"""textnorm: unicode composition and the cleanup chain."""

import unicodedata

import pytest

from opensmile_spark.textnorm import clean_text, unicode_normalize


def _one(spark, s, fn, **kw):
    df = spark.createDataFrame([(0, s)], "i long, text string")
    return fn(df, **kw).collect()[0]["text"]


def test_clean_text(spark):
    s = ("a\r\nb\rc\x00d\x1fe"        # CRLF/CR fold, controls stripped
         + "\u200bf"                   # ZWSP removed
         + " g\u00a0h\u2009i\u3000j"  # unicode spaces -> ' '
         + "\u2060k")                  # word joiner removed
    assert _one(spark, s, clean_text) == "a\nb\ncdef g h i jk"


def test_clean_keeps_tab_newline(spark):
    assert _one(spark, "a\tb\nc", clean_text) == "a\tb\nc"


def test_nfc_composes(spark):
    decomposed = "café"          # e + COMBINING ACUTE
    out = _one(spark, decomposed, unicode_normalize, form="NFC")
    assert out == "café" and len(out) == 4


def test_nfkc_folds_compat(spark):
    s = "ﬁle ① Ａ"       # fi-ligature, circled 1, fullwidth A
    out = _one(spark, s, unicode_normalize, form="NFKC")
    assert out == "file 1 A"
    # NFC leaves compatibility characters alone
    assert _one(spark, s, unicode_normalize, form="NFC") == s


def test_unknown_form_raises(spark):
    df = spark.createDataFrame([(0, "x")], "i long, text string")
    with pytest.raises(ValueError):
        unicode_normalize(df, form="NFX")


def test_normalize_idempotent(spark):
    s = "café ﬁle ①"
    once = _one(spark, s, unicode_normalize, form="NFKC")
    assert once == unicodedata.normalize("NFKC", once)


def test_clean_text_is_pure_jvm(spark):
    df = spark.createDataFrame([(0, "x")], "i long, text string")
    plan = clean_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan
