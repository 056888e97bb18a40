"""N-gram repetition signals + PII redaction — DuckDB differentials.

The documents corpus is single-line tiny-vocab word soup with no PII, so
the repetition signals are differentially tested on the real corpus while
redaction runs against a constructed fixture with known emails / phone
numbers / IPv4s (patterns are RE2-compatible by design, so Spark's Java
regex and DuckDB's RE2 must agree byte-for-byte).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X
from realtime_olap_spark.catalog import Catalog
from realtime_olap_spark.operators.text import (FINGERPRINT_MOD,
                                                PII_PATTERNS, pii_count,
                                                redact_pii,
                                                repeated_ngram_counts,
                                                rolling_fingerprint_fast)
from tests.conftest import SF_DIR, assert_matches_oracle

# the expression fold the Arrow fast path must equal
_FOLD = X.rolling_fingerprint_sql("text", FINGERPRINT_MOD)

# DuckDB twins (1-based list indexing; see suite/text.py for _WS)
_WS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"
_NTOK = f"len({_WS})"


def _duck_ngrams(n: int) -> str:
    parts = ", ".join(f"{_WS}[i + {j}]" for j in range(n))
    return (f"list_transform(generate_series(1, greatest({_NTOK} - {n - 1}, 0)), "
            f"i -> concat_ws(' ', {parts}))")


def test_repeated_ngram_counts_match_duckdb(spark, duck):
    d = Catalog(spark, SF_DIR).table("documents")
    cols, sel = [F.col("doc_id")], ["doc_id"]
    for n in (1, 2, 3):
        dup, tot = repeated_ngram_counts("text", n)
        cols += [dup.alias(f"dup{n}"), tot.alias(f"tot{n}")]
        g = _duck_ngrams(n)
        sel += [f"CAST(len({g}) - len(list_distinct({g})) AS BIGINT) AS dup{n}",
                f"CAST(len({g}) AS BIGINT) AS tot{n}"]
    assert_matches_oracle(
        d.select(*cols), duck(SF_DIR),
        f"SELECT {', '.join(sel)} FROM documents",
        name="repeated_ngram_counts")


def test_word_ngrams_short_text_edges(spark):
    rows = [("a", "one"), ("b", "one two"), ("c", ""), ("d", "  x  ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select("doc_id",
                    F.expr(X.word_ngrams_sql("text", 3)).alias("g3"),
                    F.expr(X.word_ngrams_sql("text", 2)).alias("g2")).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id["a"]["g3"] == [] and by_id["a"]["g2"] == []
    assert by_id["b"]["g2"] == ["one two"] and by_id["b"]["g3"] == []
    assert by_id["c"]["g2"] == []
    assert by_id["d"]["g2"] == []  # whitespace-only → no tokens, no grams


_PII_ROWS = [
    ("r1", "contact bob.smith+spam@mail-host.co.uk or call 555-867-5309 now"),
    ("r2", "from 192.168.0.1 via +1 (415) 555-2671, cc admin@example.org"),
    ("r3", "no pii here, just 1234 numbers and words"),
    ("r4", "a@b.io x@y.z 10.0.0.255 999.999.999.999 555.123.4567"),
    ("r5", ""),
]


def _pii_fixture(spark, duck_con):
    sdf = spark.createDataFrame(_PII_ROWS, ["doc_id", "text"])
    duck_con.register("pii_docs", pd.DataFrame(_PII_ROWS,
                                               columns=["doc_id", "text"]))
    return sdf


def test_redact_pii_matches_duckdb(spark, duck):
    con = duck(SF_DIR)
    sdf = _pii_fixture(spark, con)
    out = sdf.select("doc_id",
                     redact_pii(F.col("text")).alias("red"),
                     pii_count(F.col("text")).alias("n_pii"))
    expr, cnt, cur = "text", [], "text"
    for kind in ("email", "phone", "ipv4"):
        pat = PII_PATTERNS[kind]
        cnt.append(f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT)")
        cur = f"regexp_replace({cur}, '{pat}', '<{kind.upper()}>', 'g')"
        expr = f"regexp_replace({expr}, '{pat}', '<{kind.upper()}>', 'g')"
    assert_matches_oracle(
        out, con,
        f"SELECT doc_id, {expr} AS red, {' + '.join(cnt)} AS n_pii "
        f"FROM pii_docs",
        name="redact_pii")


def test_redaction_and_count_agree(spark):
    """pii_count equals the number of <KIND> markers redaction inserted —
    the audit invariant the two operators promise jointly."""
    sdf = spark.createDataFrame(_PII_ROWS, ["doc_id", "text"])
    markers = "|".join(f"<{k.upper()}>" for k in PII_PATTERNS)
    bad = (sdf.select(
               pii_count(F.col("text")).alias("n"),
               F.size(F.regexp_extract_all(
                   redact_pii(F.col("text")), F.lit(markers), 0))
               .cast("long").alias("m"))
           .filter(F.col("n") != F.col("m")).count())
    assert bad == 0
    # and the fixture actually exercises every kind
    got = sdf.select(F.sum(pii_count(F.col("text"))).alias("s")).first()["s"]
    assert got >= 6


def test_top_ngrams_matches_duckdb(spark, duck):
    from realtime_olap_spark.operators.text import top_ngrams
    d = Catalog(spark, SF_DIR).table("documents")
    g2 = _duck_ngrams(2)
    out = top_ngrams(d, "text", 2, 5)
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM (SELECT unnest({g2}) AS gram FROM documents)
        GROUP BY gram ORDER BY n_occ DESC, gram ASC LIMIT 5
        """, name="top_ngrams")


def test_top_ngrams_grouped_rank(spark, duck):
    from realtime_olap_spark.operators.text import top_ngrams
    d = Catalog(spark, SF_DIR).table("documents")
    g1 = _duck_ngrams(1)
    out = top_ngrams(d, "text", 1, 2, group_cols=["lang"])
    assert_matches_oracle(out, duck(SF_DIR), f"""
        SELECT lang, gram, CAST(n_occ AS BIGINT) AS n_occ FROM (
          SELECT lang, gram, COUNT(*) AS n_occ,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY COUNT(*) DESC, gram ASC) AS rk
          FROM (SELECT lang, unnest({g1}) AS gram FROM documents)
          GROUP BY lang, gram)
        WHERE rk <= 2
        """, name="top_ngrams_grouped")


def test_fingerprint_arrow_matches_expression_fold(spark):
    """Bit-equality of the Arrow fingerprint with the expression fold on
    the real corpus (all languages, incl. non-ASCII zh) plus edge rows —
    the ivf_assign_norm discipline: a fast path may only ship if it is
    value-identical to the oracle-shaped reference."""
    d = Catalog(spark, SF_DIR).table("documents")
    both = d.select(
        F.expr(_FOLD).alias("fold"),
        rolling_fingerprint_fast(F.col("text")).alias("arrow"))
    assert both.where(F.col("fold") != F.col("arrow")).count() == 0

    edge = spark.createDataFrame(
        [("",), (None,), ("a",), ("χ χ 语言 mixed™",)], "text string")
    rows = edge.select(
        F.expr(_FOLD).alias("fold"),
        rolling_fingerprint_fast(F.col("text")).alias("arrow")).collect()
    for r in rows:
        assert r["fold"] == r["arrow"], r
