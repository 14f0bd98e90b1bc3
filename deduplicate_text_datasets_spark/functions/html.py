"""HTML -> text extraction over the input_hint ``html: binary`` column.

BASELINE.json's input table carries both the raw fetched ``html`` bytes
and the extracted ``text``, with the per-row invariant "byte-identical
extracted text per url". Production crawl pipelines produce ``text`` with
a boilerplate-aware extractor (trafilatura / resiliparse — not in this
container); this module supplies (a) the Spark-side plumbing that any such
extractor plugs into and (b) a deterministic regex-based baseline
extractor good enough to hold the byte-identity invariant on well-formed
markup, expressed ONLY with ``regexp_replace``/``decode`` so the exact
same rules run on Spark (Java regex) and the DuckDB gate oracle (RE2) —
the canonical-URL trick (functions/url.py) applied to extraction.

Baseline policy, in order (each rule portable, no lookaround):
  1. drop <script>/<style> elements wholesale (content is not text)
  2. drop comments <!-- ... -->
  3. strip every remaining tag
  4. decode the five predefined XML entities + &#39; (amp LAST so
     double-escapes like &amp;lt; resolve the way browsers do: to &lt;)
  5. collapse whitespace runs to one space and trim

Everything a real extractor adds (boilerplate removal, block-level
newlines, charset sniffing beyond UTF-8) belongs behind
``extract_text_udf_seam``, a named integration point.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (?is) — dot matches newline, case-insensitive — is shared Java/RE2 syntax
RE_SCRIPT_STYLE = "(?is)<(script|style)[^>]*>.*?</(script|style)>"
RE_COMMENT = "(?s)<!--.*?-->"
RE_TAG = "<[^>]*>"
RE_WS = "\\s+"

# literal-entity pass, applied in this order (amp last)
ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def extract_text(html: Column | str, charset: str = "UTF-8") -> Column:
    """Baseline HTML-to-text as a pure Catalyst expression (codegen'd,
    no UDF): binary html -> extracted text under the module policy."""
    c = F.col(html) if isinstance(html, str) else html
    u = F.decode(c, charset)
    u = F.regexp_replace(u, RE_SCRIPT_STYLE, " ")
    u = F.regexp_replace(u, RE_COMMENT, " ")
    u = F.regexp_replace(u, RE_TAG, " ")
    for ent, ch in ENTITIES:
        u = F.replace(u, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(u, RE_WS, " "))


def extract_text_sql(expr: str) -> str:
    """The SAME policy as a DuckDB SQL expression over VARCHAR ``expr``
    (the oracle derives html as text, so no blob decode) — built from the
    same constants so engine and oracle cannot drift."""
    u = f"regexp_replace({expr}, '{RE_SCRIPT_STYLE}', ' ', 'g')"
    u = f"regexp_replace({u}, '{RE_COMMENT}', ' ', 'g')"
    u = f"regexp_replace({u}, '{RE_TAG}', ' ', 'g')"
    for ent, ch in ENTITIES:
        lit = ch.replace("'", "''")
        u = f"replace({u}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({u}, '{RE_WS}', ' ', 'g'))"


def extract_text_udf_seam(html: Column | str) -> Column:
    """Named seam for a REAL extractor (trafilatura/resiliparse as an
    Arrow-batched pandas UDF). No such extractor is a dependency; raising
    here keeps the integration point explicit instead of silently
    substituting the regex baseline."""
    raise NotImplementedError(
        "no production HTML extractor in this environment — plug a "
        "pandas_udf wrapping trafilatura.extract/resiliparse here, or use "
        "functions.html.extract_text (regex baseline) explicitly"
    )
