"""Text functions — all JVM-side Catalyst expressions (no Python on the hot
path). Tokenization is the shared definition used by MinHash, SimHash and
the text-analysis operators, and is mirrored 1:1 in the DuckDB oracle SQL
(__spark_entry__.py) so results hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Lowercase word tokens: split on non-alphanumeric runs, drop empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def doc_fingerprint(col: Column | str) -> Column:
    """Order-sensitive 64-bit document fingerprint over normalized tokens
    (rolling-hash style content address for exact-dup grouping)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.concat_ws(" ", tokens(c)))


# ---------------------------------------------------------------------------
# Tokenized-corpus emulation (reference O1 --tokenize path)
# ---------------------------------------------------------------------------
# The reference packs GPT-2 token ids as little-endian uint16 byte pairs
# (scripts/load_dataset.py:63-69), halving corpus size and making every
# byte-level operator a token-level one (offsets x2, README.md:125). The
# GPT-2 vocabulary is not available in this container, so the *mechanism*
# is reproduced with a deterministic hash vocabulary: a BPE-ish regex
# pretokenizer + xxhash64-mod-65536 ids. Swap ``token_ids`` for a real
# tokenizer UDF in production.

BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """GPT-2-style pretokenization (public regex family) — keeps leading
    spaces attached, splits letters/digits/punct runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.regexp_extract_all(c, F.lit(f"({BPE_ISH_RE})"), 1),
        lambda x: x != "",
    )


def token_ids_u16(col: Column | str) -> Column:
    """array<int> of deterministic 16-bit token ids (hash vocabulary)."""
    return F.transform(
        bpe_ish_tokens(col), lambda t: F.pmod(F.xxhash64(t), F.lit(65536)).cast("int")
    )


def pack_u16_le(ids: Column) -> Column:
    """Pack array<int> (0..65535) to the reference's little-endian uint16
    byte layout (load_dataset.py:63-69): 2 bytes per token. Pure-Catalyst
    fold, O(n^2) concat — tiny inputs / tests only; the production path is
    the vectorized packer inside ``tokenize_corpus``."""
    return F.aggregate(
        ids,
        F.lit(b""),
        lambda acc, i: F.concat(
            acc,
            F.unhex(
                F.concat(
                    F.lpad(F.hex(i % 256), 2, "0"), F.lpad(F.hex(F.floor(i / 256)), 2, "0")
                )
            ),
        ),
    )


# ---------------------------------------------------------------------------
# Pluggable tokenizer seam (reference: load_dataset.py --tokenize, :63-69)
# ---------------------------------------------------------------------------


def make_tokenizer_udf(batch_fn):
    """Wrap a batch tokenizer (pd.Series[str] -> pd.Series[list[int]]) as an
    Arrow-vectorized pandas UDF — the integration point for real
    vocabularies. The reference tokenizes with GPT-2/T5 inside mp.Pool
    workers (load_dataset.py:63-69; count_occurrences.py:30-76); here the
    same batch function rides Arrow batches on the executors."""
    import pandas as pd  # noqa: F401  (signature type for pandas_udf)
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _tok(texts):
        return batch_fn(texts)

    return _tok


def gpt2_tokenizer_udf():
    """Real GPT-2 tokenizer UDF via tiktoken, when the library is present.
    This container ships no tokenizer vocabulary — the seam raises with a
    clear message instead of silently substituting the hash vocabulary."""
    try:
        import tiktoken
    except ImportError as exc:  # pragma: no cover - env without tiktoken
        raise NotImplementedError(
            "GPT-2 tokenization needs the 'tiktoken' package (not in this "
            "container). Use tokenize_corpus(docs) for the deterministic "
            "hash-vocabulary emulation, or plug any batch tokenizer via "
            "make_tokenizer_udf."
        ) from exc

    enc = tiktoken.get_encoding("gpt2")

    def batch(texts):
        return texts.map(lambda t: [i & 0xFFFF for i in enc.encode(t)])

    return make_tokenizer_udf(batch)


def tokenize_corpus(
    docs, tokenizer=None, text_col: str = "text", keep_cols: tuple = ()
):
    """documents -> (doc_id, *keep_cols, token_ids array<int>, packed binary).

    ``packed`` is the reference's on-disk tokenized layout: little-endian
    uint16 per token (load_dataset.py:63-69), so every byte-level operator
    runs token-level with offsets x2 (README.md:125). tokenizer=None uses
    the deterministic hash vocabulary (Catalyst-only id derivation);
    otherwise pass any ``make_tokenizer_udf`` result (e.g.
    ``gpt2_tokenizer_udf()``). Packing is a vectorized Arrow UDF
    (numpy '<u2' tobytes), not the O(n^2) Catalyst fold."""
    import numpy as np
    from pyspark.sql import types as T

    ids = tokenizer(F.col(text_col)) if tokenizer is not None else token_ids_u16(text_col)

    @F.pandas_udf(T.BinaryType())
    def _pack(id_lists):
        def pack_one(a):
            arr = np.asarray(a if a is not None else [], dtype=np.int64)
            if arr.size and (arr.min() < 0 or arr.max() > 0xFFFF):
                # a custom tokenizer with ids >= 65536 would silently wrap
                # mod 2^16 in the packed bytes while token_ids kept the
                # original value — corrupt layout, so fail loudly
                raise ValueError(
                    "token id outside [0, 65535]: the packed corpus layout "
                    "is 2 bytes/token (reference load_dataset.py:63-69); "
                    "mask ids to 16 bits in the tokenizer or use a wider "
                    "custom layout"
                )
            return arr.astype("<u2").tobytes()

        return id_lists.map(pack_one)

    out = docs.select("doc_id", *keep_cols, ids.alias("token_ids"))
    return out.withColumn("packed", _pack(F.col("token_ids")))


def tokenized_documents(docs, tokenizer=None, text_col: str = "text"):
    """documents -> (doc_id[, url], text: binary) where ``text`` is the
    packed u16 token corpus — a drop-in input for every ExactSubstr
    operator (with_offsets / self_similar / count_occurrences /
    find_training_data / apply_removals consume str or bytes alike).
    ``url`` rides along when the input has it (projected in the same
    select — no join) so the full exactsubstr_dedup pipeline, including
    strike-out, runs token-mode end to end. Token-mode rules
    (README.md:74,125; main.rs:762-768): length thresholds DOUBLE in bytes
    (50 tokens = 100 bytes) and find_training_data runs with step=2, its
    qpos being byte offsets = 2 x token offsets."""
    keep = ("url",) if "url" in docs.columns else ()
    t = tokenize_corpus(docs, tokenizer, text_col, keep_cols=keep)
    return t.select("doc_id", *keep, F.col("packed").alias("text"))
