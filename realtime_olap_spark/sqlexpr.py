"""SQL renderings of the text and dedup expressions — the one
implementation of each.

Every function here renders one expression as SQL text that the caller
parses JVM-side with ``F.expr``. Building the same tree through the
PySpark Column API costs one py4j round trip per operator call (~1.4 ms
each, measured on a 32-core local-mode session), so a word-trigram tree
is ~40 ms of Python-side construction and a 16-fold SimHash ~200 ms; one
parse is a single round trip (``word_ngrams_sql``: 39.8 ms → 0.54 ms, ~74×) and
Catalyst sees the identical expression tree.

Arguments are SQL EXPRESSIONS (a lambda variable, a nested rendering, or
a column reference). Callers holding a column NAME render it with
:func:`col_sql`, which keeps ``F.col`` name semantics: dots separate
struct fields, and every part is backtick-quoted so reserved words and
operator characters stay names.

Parser assumption: every escaped string literal here (``_WS_RE``, the
punct/upper regexes, :func:`_sql_str`) is rendered for the DEFAULT
``spark.sql.parser.escapedStringLiterals=false``. Under the legacy
``true`` setting ``'\\s+'`` parses to a different regex, so the first
rendering per session asserts the conf (``_check_parser_conf``) and
raises loudly instead of returning a different expression.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

#: SQL string literal whose VALUE is the regex \s+ (backslash is an
#: escape character inside Spark SQL string literals).
_WS_RE = r"'\\s+'"

import weakref

_parser_conf_ok: "weakref.WeakSet" = weakref.WeakSet()


def _check_parser_conf() -> None:
    """Raise if the active session parses string literals in legacy mode
    (escapedStringLiterals=true), under which every backslash literal in
    this module means a different string. Checked once per SESSION
    OBJECT via a WeakSet — zero py4j round trips on the warm path (the
    very overhead this module exists to remove), and a
    ``spark.newSession()`` (new object, shared applicationId) gets its
    own check. Limits, by design: a session that flips the conf AFTER
    its first render is not re-checked (re-checking per render would
    re-add an RPC per construction), and rendering with no active
    session skips the check (pure string building)."""
    spark = SparkSession.getActiveSession()
    if spark is None or spark in _parser_conf_ok:
        return
    flag = spark.conf.get("spark.sql.parser.escapedStringLiterals",
                          "false")
    if str(flag).lower() == "true":
        raise RuntimeError(
            "sqlexpr renderings require spark.sql.parser."
            "escapedStringLiterals=false (the default); the session has "
            "the legacy mode enabled, under which these SQL strings parse "
            "to different regexes")
    _parser_conf_ok.add(spark)


def col_sql(name: str) -> str:
    """The column NAMED ``name`` under ``F.col`` semantics: each
    dot-separated part backtick-quoted (embedded backticks doubled), so
    ``a.b`` is field ``b`` of struct ``a`` and a reserved word or a name
    like ``a+b`` can never parse as an expression."""
    return ".".join("`" + p.replace("`", "``") + "`"
                    for p in name.split("."))


def ident_sql(name: str) -> str:
    """``name`` as ONE quoted identifier — an output alias, where a dot is
    part of the name (``AS `sum_a.b```), not a struct-field path."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal whose value is exactly ``s``:
    backslashes escaped first (they are the parser's escape character),
    then embedded quotes doubled — safe for any marker content."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def lit_sql(v) -> str:
    """SQL literal with ``F.lit``'s type for a python scalar: ``str`` →
    STRING, ``int`` → INT or BIGINT by magnitude, ``float`` → DOUBLE (the
    ``D`` suffix; a bare ``1.5`` would parse as DECIMAL), ``bool`` →
    BOOLEAN. Negative numbers are parenthesized so a rendering like
    ``a - (-1)`` never lexes as a ``--`` comment."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        if "\\" in v or "'" in v:
            _check_parser_conf()
        return _sql_str(v)
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return f"CAST('{v!r}' AS DOUBLE)"  # 'nan', 'inf', '-inf'
        return f"({v!r}D)" if v < 0 else f"{v!r}D"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def words_sql(text: str) -> str:
    """Whitespace tokens of the lowercased text (empty-token free)."""
    _check_parser_conf()
    return f"filter(split(lower({text}), {_WS_RE}), w -> w != '')"


def ngrams_sql(ws: str, n: int) -> str:
    """Sliding word n-grams from a word array, space-joined, as n−1
    nested ``zip_with`` calls over n shifted slices. ``ws`` is pasted n
    times at the TOP level of the expression — evaluated n times per
    ROW. A ``transform(starts, i -> concat_ws(slice(ws, i, n)))`` form
    would place ``ws`` INSIDE the lambda, and interpreted HOF evaluation
    does no loop-invariant hoisting: the whole split-and-filter would
    re-run per gram START, O(tokens²) work per document (measured: the
    decontamination scan dropped 3.3 s → ~0.4 s at sf0.1 from this
    shape alone)."""
    m = f"greatest(size({ws}) - {n - 1}, 0)"
    out = f"slice({ws}, 1, {m})"
    for j in range(1, n):
        out = (f"zip_with({out}, slice({ws}, {j + 1}, {m}), "
               f"(a, b) -> concat(a, ' ', b))")
    return out


def word_ngrams_sql(text: str, n: int) -> str:
    """Sliding word n-grams of the text, space-joined — the unit of the
    Gopher/C4-style repetition signals. Pure per-row array expression,
    scan-side at any scale (see :func:`ngrams_sql` for the shape)."""
    return ngrams_sql(words_sql(text), n)


def uncovered_text_sql(text: str, starts: str, k: int) -> str:
    """The text's words rebuilt without every token covered by a k-wide
    window starting at a 0-based position in the int array ``starts``
    (NULL = no windows), space-joined: token i is dropped iff some start
    p has ``p ≤ i < p+k`` — an ``exists`` probe over the per-doc list."""
    return (f"array_join(filter({words_sql(text)}, (x, i) -> "
            f"NOT exists(coalesce({starts}, CAST(array() AS ARRAY<INT>)), "
            f"p -> (p <= i) AND (i < p + {k}))), ' ')")


def ngram_hash_set_sql(text: str, n: int) -> str:
    """Distinct xxhash64 codes of the text's word n-grams (order-free
    set, 8 bytes/gram) — the per-row unit both sides of
    decontamination share."""
    return (f"array_distinct(transform({word_ngrams_sql(text, n)}, "
            f"g -> xxhash64(g)))")


def bigrams_sql(ws: str) -> str:
    """Adjacent word pairs from a shared word array, via TWO slices and
    one zip_with — O(1) array allocations per row."""
    m = f"greatest(size({ws}) - 1, 0)"
    return (f"zip_with(slice({ws}, 1, {m}), slice({ws}, 2, {m}), "
            f"(a, b) -> concat(a, ' ', b))")


def doc_grams_sql(text: str) -> str:
    """The doc's hashed-feature grams: unigrams + word bigrams (the DSIR
    feature set), one scan-side array — tokenized once."""
    ws = words_sql(text)
    return f"concat({ws}, {bigrams_sql(ws)})"


def gram_buckets_md5_sql(text: str, n_buckets: int) -> str:
    """Bucket ids from the first 8 hex chars of md5 — slower than
    xxhash64 but byte-identical in any engine with md5 (DuckDB renders
    it as ``('0x' || substr(md5(g),1,8))::BIGINT % B``), which is what
    puts the DSIR feature space under a differential oracle."""
    return (f"transform({doc_grams_sql(text)}, "
            f"g -> CAST(CAST(conv(substring(md5(g), 1, 8), 16, 10) "
            f"AS BIGINT) % {n_buckets} AS INT))")


def favored_hits_sql(text: str, favored: list[int]) -> str:
    """Per-doc count of grams landing in favored buckets — an integer
    scan-side fold against the 0/1 bucket bitmap (one single-node
    from_json literal, the form ``litarray.lit_ints`` produces), the
    same zero-shuffle shape as ``importance.importance_weights``."""
    bitmap = "from_json('[" + ",".join(str(int(v)) for v in favored) + \
        "]', 'array<int>')"
    return (f"aggregate({gram_buckets_md5_sql(text, len(favored))}, "
            f"CAST(0 AS BIGINT), "
            f"(acc, bk) -> acc + CAST(element_at({bitmap}, bk + 1) "
            f"AS BIGINT))")


def quality_features_sql(text: str) -> list[Column]:
    """Curation-style quality signals as six aliased columns: length,
    token stats, stopword, punctuation and uppercase ratios. The pasted
    ``words`` subtrees are deduplicated by codegen subexpression
    elimination within the one projection (measured: staging the array
    as a projection alias is perf-neutral here). Integer totals, one
    exact division each — no float fold order to match across
    engines."""
    from realtime_olap_spark.operators.text import LANG_MARKERS  # noqa: PLC0415
    ws = words_sql(text)
    n_tok = f"size({ws})"
    n_chars = f"length({text})"
    stop_terms = "0"
    for m in LANG_MARKERS["en"]:
        stop_terms += (f" + ({n_tok} - size(array_remove({ws}, "
                       f"{_sql_str(m)})))")
    n_punct = (f"({n_chars} - length(regexp_replace({text}, "
               f"'[^\\\\w\\\\s]', '')))")
    n_upper = f"({n_chars} - length(regexp_replace({text}, '[A-Z]', '')))"
    mean_wl = (f"CAST(CAST(length(concat_ws('', {ws})) AS BIGINT) "
               f"AS DOUBLE) / CAST({n_tok} AS DOUBLE)")
    return [
        F.expr(n_chars).alias("n_chars_m"),
        F.expr(n_tok).alias("n_tokens"),
        F.expr(mean_wl).alias("mean_word_len"),
        F.expr(f"CAST({stop_terms} AS DOUBLE) / CAST({n_tok} AS DOUBLE)")
        .alias("stopword_ratio"),
        F.expr(f"CAST({n_punct} AS DOUBLE) / CAST({n_chars} AS DOUBLE)")
        .alias("punct_ratio"),
        F.expr(f"CAST({n_upper} AS DOUBLE) / CAST({n_chars} AS DOUBLE)")
        .alias("upper_ratio"),
    ]


def rolling_fingerprint_sql(text: str, mod: int) -> str:
    """Polynomial rolling-hash document fingerprint over characters:
    h ← h·31 + code(c) (mod p), left-to-right — an order-sensitive
    complement to the word-set hashes, and the same per-row fold shape
    as a Rabin-Karp chunker."""
    codes = (f"transform(filter(split({text}, ''), c -> c != ''), "
             f"c -> CAST(ascii(c) AS BIGINT))")
    return (f"aggregate({codes}, CAST(0 AS BIGINT), "
            f"(acc, c) -> ((acc * 31) + c) % CAST({mod} AS BIGINT))")


def word_set_sql(text: str) -> str:
    """Distinct lowercase word shingles (k=1 word shingling — the
    shingle builder both engines can express identically; larger k is a
    transform on this array)."""
    return f"array_distinct(split(lower({text}), ' '))"


def word_hash60_sql(w: str) -> str:
    """60-bit word hash from the md5 hex prefix — parses identically as
    Spark conv(hex,16,10) and SQL '0x…'::UBIGINT (fits in a signed
    64-bit)."""
    return f"CAST(conv(substring(md5({w}), 1, 15), 16, 10) AS BIGINT)"


def word_hashes_sql(text: str) -> str:
    """:func:`word_hash60_sql` of every :func:`word_set_sql` shingle —
    the hashed word set every Jaccard and SimHash stage consumes."""
    return f"transform({word_set_sql(text)}, w -> {word_hash60_sql('w')})"


def simhash_fp_sql(wh: str, bits: int) -> str:
    """SimHash fingerprint fold over the materialized word-hash array
    column ``wh``: bit j is set iff more than half the hashes have bit j
    set — ``bits`` independent single-long accumulator folds, summed."""
    terms = []
    for j in range(bits):
        cnt = (f"aggregate({wh}, CAST(0 AS BIGINT), "
               f"(acc, h) -> acc + (shiftright(h, {j}) & 1))")
        terms.append(
            f"CASE WHEN ({cnt} * 2) > size({wh}) THEN {1 << j} ELSE 0 END")
    fp = terms[0]
    for t in terms[1:]:
        fp = f"({fp} + {t})"
    return f"CAST({fp} AS BIGINT)"
