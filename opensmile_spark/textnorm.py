"""Text normalization — the pre-tokenization cleanup stage.

Every tokenizer-bound corpus is normalized first: Unicode composition
(NFC/NFKC) so 'e'+COMBINING ACUTE and precomposed 'é' tokenize
identically, control/zero-width stripping and Unicode-space folding.
Two execution tiers, mirroring htmlops:

  clean_text(df)       built-in regexp chain — JVM codegen, map-only,
                       zero Python: CRLF folding, C0/C1 control strip
                       (keeping \\n and \\t), zero-width removal
                       (ZWSP/ZWNJ/ZWJ/BOM), Unicode space -> ASCII
                       space. The 100 TB fast path.
  unicode_normalize(df) NFC/NFKC/NFD/NFKD via Python's unicodedata in an
                       Arrow-batched mapInPandas kernel (the JVM exposes
                       no normalizer expression). DuckDB's nfc_normalize
                       twins the NFC form, so the gate hash-checks the
                       Arrow kernel cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# C0 controls minus \t\n (\x00-\x08, \x0B-\x1F), DEL + C1 controls.
_CTRL = r"[\x00-\x08\x0B-\x1F\x7F\x{0080}-\x{009F}]"
# zero-width space/non-joiner/joiner, word joiner, BOM/ZWNBSP
_ZERO_WIDTH = r"[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}]"
# NBSP, ogham mark, en-quad..hair space, narrow NBSP, math space,
# ideographic space
_USPACE = r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"


def clean_text_exprs(col):
    """The shared cleanup chain as a Column expression."""
    c = F.regexp_replace(col, r"\r\n?", "\n")
    c = F.regexp_replace(c, _ZERO_WIDTH, "")
    c = F.regexp_replace(c, _CTRL, "")
    return F.regexp_replace(c, _USPACE, " ")


def clean_text(df: DataFrame, text_col: str = "text",
               out_col: str | None = None) -> DataFrame:
    """Map-only control/zero-width/space cleanup (expr path)."""
    return df.withColumn(out_col or text_col,
                         clean_text_exprs(F.col(text_col)))


def unicode_normalize(df: DataFrame, text_col: str = "text",
                      out_col: str | None = None,
                      form: str = "NFC") -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) via an Arrow kernel."""
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = out_col or text_col
    cols = [f.name for f in df.schema.fields if f.name != out]
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.schema.fields if f.name != out] + [f"`{out}` string"])

    def run(batches):
        import unicodedata

        import pandas as pd
        for pdf in batches:
            vals = [unicodedata.normalize(form, t) if isinstance(t, str)
                    else None for t in pdf[text_col]]
            yield pd.DataFrame({**{c: pdf[c] for c in cols}, out: vals})

    return df.mapInPandas(run, schema=schema)
