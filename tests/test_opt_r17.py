"""r17 hardening pins (r16 verdict item 8 + ADVICE items 1-3).

- Merged-percentile accuracy: the same-column percentile-family merge
  (groupby.merged_agg_sql) and the unmerged est/tdigest renderings
  must share ONE accuracy constant, or the merged path silently diverges
  from a lone call the first time someone retunes a default.
- ngram_hash_set(str) treats the string as a COLUMN NAME (F.col
  convention) — a name that is a reserved word, contains operators or
  names a struct field must not be parsed as a SQL expression.
- quality_features_sql marker literals are escaped, so a marker
  containing an apostrophe or a backslash cannot break (or silently
  alter) the rendered SQL.
- sqlexpr refuses to render under spark.sql.parser.escapedStringLiterals
  =true, where its backslash literals would mean different regexes.
"""

from __future__ import annotations

import inspect
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.operators.aggregation import (  # noqa: E402
    PERCENTILE_APPROX_ACCURACY, percentile_approx_sql, resolve)


def _lone_est(pct: int):
    return F.expr(resolve(f"percentileest{pct}").sql("v"))


def test_percentile_accuracy_single_constant():
    """Every unmerged approx-percentile rendering uses the SAME accuracy
    constant the merged path uses (r16 verdict item 8)."""
    default = inspect.signature(percentile_approx_sql).parameters[
        "accuracy"].default
    assert default == PERCENTILE_APPROX_ACCURACY
    for name in ("percentileest50", "percentiletdigest50"):
        assert resolve(name).sql("v").endswith(
            f", {PERCENTILE_APPROX_ACCURACY})"), name
    # the merged path references the constant, not a literal
    import realtime_olap_spark.operators.groupby as G
    src = inspect.getsource(G.merged_agg_sql)
    assert "PERCENTILE_APPROX_ACCURACY" in src
    assert "10000" not in src


def test_merged_and_unmerged_percentile_est_agree(spark):
    """Value check behind the constant pin: a merged 2-percentile family
    equals two lone est calls on the same data."""
    from realtime_olap_spark.operators.groupby import Agg, merged_agg_sql

    df = spark.range(0, 500).select(
        (F.col("id") % 7).alias("v"))
    alist = [Agg("percentileest50", "v", "p50"),
             Agg("percentileest90", "v", "p90")]
    agg_sql, post = merged_agg_sql(alist)
    merged = (df.agg(*[F.expr(x) for x in agg_sql])
              .select(*[F.expr(x) for x in post]).first())
    lone50 = df.agg(_lone_est(50).alias("x")).first()["x"]
    lone90 = df.agg(_lone_est(90).alias("x")).first()["x"]
    assert merged["p50"] == lone50
    assert merged["p90"] == lone90


def test_ngram_hash_set_str_is_column_name(spark):
    """ADVICE #1: a str argument is a column name under the F.col
    convention — even when the name is a reserved word, contains an
    operator character or a backtick, or is a dotted struct-field path,
    it must resolve to the column, not parse (or fail) as a SQL
    expression. Reference: the same text under a plain identifier."""
    from realtime_olap_spark import sqlexpr as X
    from realtime_olap_spark.operators.decontam import ngram_hash_set

    df = (spark.createDataFrame([("a b c d",)], "plain string")
          .withColumn("select", F.col("plain"))
          .withColumn("a+b", F.col("plain"))
          .withColumn("a`b", F.col("plain"))
          .withColumn("s", F.struct(F.col("plain").alias("t"))))
    want = df.select(ngram_hash_set("plain", 2).alias("h")).first()["h"]
    assert len(want) == 3
    for name in ["select", "a+b", "a`b", "s.t"]:
        got = df.select(ngram_hash_set(name, 2).alias("h")).first()["h"]
        assert got == want, name
    assert X.col_sql("s.t") == "`s`.`t`"
    assert X.col_sql("a`b") == "`a``b`"


def test_quality_marker_escaping(spark):
    """ADVICE #3 (r16) and #1 (r17): a marker containing an apostrophe or
    a backslash renders as a valid, value-correct SQL literal (the fr
    profile could contain l'). An unescaped backslash would be read as
    an escape: 'a\\b' would match a backspace, not the token a\\b."""
    from realtime_olap_spark import sqlexpr as X
    from realtime_olap_spark.operators.text import LANG_MARKERS

    orig = LANG_MARKERS["en"]
    LANG_MARKERS["en"] = ["l'", "the", "a\\b"]
    try:
        cols = X.quality_features_sql("text")
        row = (spark.createDataFrame([("l' the a\\b l' ok",)],
                                     "text string")
               .select(*cols).first())
        # 4 stopword tokens of 5: l', the, a\b, l'
        assert row["stopword_ratio"] == 4 / 5
    finally:
        LANG_MARKERS["en"] = orig


def test_sqlexpr_rejects_legacy_parser_mode(spark):
    """ADVICE #2: under escapedStringLiterals=true the renderings would
    silently mean different regexes — they must raise instead."""
    from realtime_olap_spark import sqlexpr as X

    X._parser_conf_ok.clear()
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            X.words_sql("text")
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
        X._parser_conf_ok.clear()
    # and the default mode passes + caches (second call, no raise)
    X.words_sql("text")
    X.words_sql("text")


def test_token_count_regexp_count_parity(spark):
    """token_count / bpe_ish_token_count now count matches via
    regexp_count instead of materializing token arrays — value-identical
    to the array forms on whitespace/punct/unicode edge cases."""
    from realtime_olap_spark import sqlexpr as X
    from realtime_olap_spark.operators.text import (BPE_ISH_PATTERN,
                                                    bpe_ish_token_count,
                                                    token_count)

    rows = [("",), ("   ",), ("a",), (" a  b\tc\nd ",),
            ("Hello, WORLD!! a1b2 3.14 -- x_y",),
            ("tab\t\tdouble  space\r\nmix",), ("1+1=2; 'quoted'",)]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        token_count(F.col("text")).alias("nt"),
        bpe_ish_token_count(F.col("text")).alias("nb")).collect()
    want = df.select(
        F.expr(f"size({X.words_sql('text')})").alias("nt"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(BPE_ISH_PATTERN), 0)).alias("nb")
    ).collect()
    assert got == want
