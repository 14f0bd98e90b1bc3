"""Env-knob ratchet (Spark-free): every environment variable the package
reads is on a written allowlist, so a new knob fails the suite instead of
landing silently. Add a knob here only together with its documentation;
prefer an ``EngineConfig`` field over a new variable."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "deduplicate_text_datasets_spark"

ALLOWED = {
    # size guards that move a stage onto the driver (0 = distributed plan)
    "SPARK_GRAFT_OFFSETS_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_PAIR_MAX",
    "SPARK_GRAFT_VERIFY_DRIVER_MAX",
    "SPARK_GRAFT_CC_DRIVER_MAX",
    "SPARK_GRAFT_INTERVALS_DRIVER_MAX",
    # ExactSubstr prefilters and their Bloom sketch
    "SPARK_GRAFT_FP_PREFILTER",
    "SPARK_GRAFT_FP_PREFILTER_MAX_KEYS",
    "SPARK_GRAFT_ACROSS_PREFILTER",
    "SPARK_GRAFT_ACROSS_PREFILTER_MAX_KEYS",
    "SPARK_GRAFT_FP_BLOOM_MAX_BYTES",
    # fingerprint kernel blocking and output batch size
    "SPARK_GRAFT_FP_BLOCK",
    "SPARK_GRAFT_FP_EMIT_ROWS",
    # session settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ADVISORY_MB",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_PRETOUCH",
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST):
    """Yield the key node of every os.environ.get(...), os.environ[...]
    and os.getenv(...) in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "get"
                and _is_environ(f.value)
            ) or (
                isinstance(f, ast.Attribute)
                and f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                yield node.args[0]
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.slice


def test_env_reads_match_allowlist():
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for key in _env_reads(tree):
            where = f"{path.relative_to(PACKAGE)}:{key.lineno}"
            assert isinstance(key, ast.Constant) and isinstance(
                key.value, str
            ), f"non-literal environment key at {where}"
            found.setdefault(key.value, []).append(where)
    assert set(found) == ALLOWED, (
        f"new: {sorted(set(found) - ALLOWED)}, "
        f"gone: {sorted(ALLOWED - set(found))}"
    )
