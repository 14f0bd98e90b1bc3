"""Env-knob ratchet (Spark-free): every environment variable the package
reads is on a written allowlist, so a new knob fails the suite instead of
landing silently. Add a knob here only together with its documentation;
prefer an ``EngineConfig`` field over a new variable.

The placement ratchet keeps every driver-or-distributed decision in
``plans/caching.py``: the driver guards are read there only, every pull to
the driver goes through its probe, and no stage carries a driver result on
an ad-hoc DataFrame attribute.

The skew-policy ratchet keeps the bucket-size skew policy in
``operators/salted_join.py``: only it calls the grid-salted joins and the
numpy twins that the policy is built from."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "deduplicate_text_datasets_spark"
CACHING = Path("plans") / "caching.py"
SALTED_JOIN = Path("operators") / "salted_join.py"

ALLOWED = {
    # size guards that move a stage onto the driver (0 = distributed plan)
    "SPARK_GRAFT_OFFSETS_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_MAX",
    "SPARK_GRAFT_LSH_DRIVER_PAIR_MAX",
    "SPARK_GRAFT_VERIFY_DRIVER_MAX",
    "SPARK_GRAFT_CC_DRIVER_MAX",
    "SPARK_GRAFT_INTERVALS_DRIVER_MAX",
    # session settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_ADVISORY_MB",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_PRETOUCH",
}


def _package_trees():
    """(path relative to the package, parsed module) for every module."""
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE), ast.parse(path.read_text(), filename=str(path))


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
    for rel, tree in _package_trees():
        for key in _env_reads(tree):
            where = f"{rel}:{key.lineno}"
            assert isinstance(key, ast.Constant) and isinstance(
                key.value, str
            ), f"non-literal environment key at {where}"
            found.setdefault(key.value, []).append(where)
    assert set(found) == ALLOWED, (
        f"new: {sorted(set(found) - ALLOWED)}, "
        f"gone: {sorted(ALLOWED - set(found))}"
    )


# the size guards that move a stage onto the driver
GUARDS = {k for k in ALLOWED if "_DRIVER_" in k and k.endswith("_MAX")}


def _memo_attribute(name: str) -> bool:
    return name.startswith("_driver_") or name == "_offsets_memo"


def test_placement_goes_through_caching():
    assert len(GUARDS) == 6
    guard_reads, pulls, memos = [], [], []
    for rel, tree in _package_trees():
        for key in _env_reads(tree):
            if rel != CACHING and getattr(key, "value", None) in GUARDS:
                guard_reads.append(f"{rel}:{key.lineno}")
        for node in ast.walk(tree):
            if (
                rel != CACHING
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "toPandas"
            ):
                pulls.append(f"{rel}:{node.lineno}")
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            for t in targets:
                for sub in ast.walk(t):
                    if isinstance(sub, ast.Attribute) and _memo_attribute(sub.attr):
                        memos.append(f"{rel}:{sub.lineno}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "setattr"
                and len(node.args) > 1
                and isinstance(node.args[1], ast.Constant)
                and _memo_attribute(str(node.args[1].value))
            ):
                memos.append(f"{rel}:{node.lineno}")
    assert not guard_reads, f"driver guard read outside {CACHING}: {guard_reads}"
    assert not pulls, f"toPandas outside {CACHING} (use caching.probe): {pulls}"
    assert not memos, f"driver result on a DataFrame attribute: {memos}"


# the building blocks of the bucket-size skew policy
POLICY_CALLS = {
    "grid_salted_self_pairs",
    "grid_salted_cross_pairs",
    "driver_bucket_pairs",
    "driver_bucket_cross_pairs",
}


def test_skew_policy_lives_in_salted_join():
    outside = []
    for rel, tree in _package_trees():
        for node in ast.walk(tree):
            if rel != SALTED_JOIN and isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in POLICY_CALLS:
                    outside.append(f"{rel}:{node.lineno}")
    assert not outside, f"skew-policy join outside {SALTED_JOIN}: {outside}"
