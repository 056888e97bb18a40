"""PQL-dialect front end.

Replicates the reference's query language surface (grammar:
pinot-common/src/main/antlr4/.../PQL2.g4; compiler:
pinot-common/.../pql/parsers/Pql2Compiler.java:58,78 → thrift BrokerRequest,
request.thrift:138-159):

    SELECT <outputs> FROM <table>
    [WHERE <predicate tree>]
    [GROUP BY <expressions>]
    [HAVING <aggregate comparisons>]
    [ORDER BY col [ASC|DESC], ...]      -- selection queries only (reference)
    [TOP n]                              -- group-by result size, default 10
    [LIMIT n | LIMIT offset, n]          -- selection size, default 10

Outputs are columns, transform-function calls (the closed 7-function set,
§2.9), infix arithmetic (compiled to ADD/SUB/MULT/DIV like PQL2.g4's
binaryMathOperator), ``*``, or aggregation calls (the closed registry, §2.4).
Predicates: ``= <> != < <= > >= BETWEEN IN NOT IN REGEXP_LIKE`` composed with
AND/OR (request.thrift:25-34, :60-75).

Group-by semantics follow the reference: results are the TOP n groups
ordered by the (first) aggregate descending (docs/pql_examples.rst:169-172,
default 10 :224) — computed exactly, with group-key tie-break for
determinism. HAVING (BrokerReduceService.java:426-460) filters the final
aggregates; the reference's "close policy" (intersect the groups present
for every function) is moot because the aggregation is exact — every
group is present for every function (SURVEY.md §7 risk 4). Selection
defaults LIMIT 10 (request.thrift:130-131).

This is a hand-written recursive-descent parser (~the size of the
reference's ANTLR listener) producing a ``PQLQuery`` IR — our
BrokerRequest. The compiler renders the IR as ONE Spark SQL statement
over the table's temp view (``catalog.pql_view``) and makes one
``spark.sql`` call: one py4j round trip and one analysis per query, where
a Column-API build costs a round trip per operator call. Transforms
render through ``functions/transform.py``; the filter → group-by →
aggregation step is ``groupby.aggregate_sql`` — the statement
``group_by_agg`` runs too — and this module adds HAVING and the TOP-n
trim around it.

Like Pinot's plan maker and segment pruner, ``PQLEngine.execute`` first
asks the table's segment records (``catalog.table_segments``: row count
and per-column min/max/null count from each parquet footer): an
unfiltered count-only query, and a query whose filter no segment can
match, are answered from them with no Spark job (``_metadata_response``).
Every other query runs its one statement unchanged.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (ByteType, DoubleType, FloatType, IntegerType,
                               LongType, ShortType, StringType)

from realtime_olap_spark.catalog import (Catalog, pql_view, segment_columns,
                                         table_segments)
from realtime_olap_spark.functions.transform import (LITERAL_TAIL,
                                                     resolve_transform)
from realtime_olap_spark.operators.aggregation import resolve as resolve_agg
from realtime_olap_spark.operators.groupby import Agg, aggregate_sql
from realtime_olap_spark.sqlexpr import col_sql, ident_sql, lit_sql

DEFAULT_TOP = 10
DEFAULT_LIMIT = 10


# ---------------------------------------------------------------------------
# AST (TransformExpressionTree analog: FUNCTION | IDENTIFIER | LITERAL)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Ident:
    name: str


@dataclass(frozen=True)
class Lit:
    value: object


@dataclass(frozen=True)
class Func:
    name: str
    args: tuple


@dataclass(frozen=True)
class Cmp:
    op: str  # = <> < <= > >=
    left: object
    right: object


@dataclass(frozen=True)
class Between:
    expr: object
    low: object
    high: object


@dataclass(frozen=True)
class In:
    expr: object
    values: tuple
    negated: bool = False


@dataclass(frozen=True)
class RegexpLike:
    expr: object
    pattern: str


@dataclass(frozen=True)
class BoolOp:
    op: str  # AND | OR
    operands: tuple


@dataclass
class PQLQuery:
    """IR #1 — the BrokerRequest analog (request.thrift:138-159)."""

    select: list = field(default_factory=list)  # (expr, alias) pairs
    table: str = ""
    where: object | None = None
    group_by: list = field(default_factory=list)
    having_: object | None = None
    order_by: list = field(default_factory=list)  # (expr, asc) pairs
    top: int | None = None
    limit: tuple[int, int] | None = None  # (offset, n)

    @property
    def is_aggregation(self) -> bool:
        return any(_is_agg(e) for e, _ in self.select)


def _is_agg(expr) -> bool:
    if isinstance(expr, Func):
        try:
            resolve_agg(expr.name)
            return True
        except KeyError:
            return False
    return False


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<string>'(?:[^']|'')*')
    | (?P<ident>[A-Za-z_][A-Za-z0-9_$.]*)
    | (?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|\*|\+|-|/|%)
    )""", re.VERBOSE)

_KEYWORDS = {"select", "from", "where", "group", "by", "having", "order",
             "top", "limit", "and", "or", "not", "in", "between",
             "asc", "desc", "regexp_like", "is", "null"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"PQL syntax error at: {text[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "ident" and val.lower() in _KEYWORDS:
            out.append(("kw", val.lower()))
        else:
            out.append((kind, val))
    out.append(("eof", ""))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind, val=None):
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            return self.next()
        return None

    def expect(self, kind, val=None):
        t = self.accept(kind, val)
        if t is None:
            raise ValueError(f"PQL: expected {val or kind}, got {self.peek()!r}")
        return t

    # --- expressions (precedence: * / over + -) ---------------------------

    def expr(self):
        left = self.term()
        while True:
            if self.accept("op", "+"):
                left = Func("add", (left, self.term()))
            elif self.accept("op", "-"):
                left = Func("sub", (left, self.term()))
            else:
                return left

    def term(self):
        left = self.factor()
        while True:
            if self.accept("op", "*"):
                left = Func("mult", (left, self.factor()))
            elif self.accept("op", "/"):
                left = Func("div", (left, self.factor()))
            else:
                return left

    def factor(self):
        k, v = self.peek()
        if k == "op" and v == "-":
            # Unary minus, handled grammatically like PQL2.g4: negate a
            # numeric literal directly, otherwise compile to SUB(0, expr).
            self.next()
            f = self.factor()
            if isinstance(f, Lit) and isinstance(f.value, (int, float)):
                return Lit(-f.value)
            return Func("sub", (Lit(0), f))
        if k == "number":
            self.next()
            return Lit(float(v) if ("." in v or "e" in v.lower()) else int(v))
        if k == "string":
            self.next()
            return Lit(v[1:-1].replace("''", "'"))
        if k == "op" and v == "(":
            self.next()
            e = self.expr()
            self.expect("op", ")")
            return e
        if k == "op" and v == "*":
            self.next()
            return Ident("*")
        if k == "ident":
            self.next()
            if self.accept("op", "("):
                args = []
                if not self.accept("op", ")"):
                    args.append(self.expr())
                    while self.accept("op", ","):
                        args.append(self.expr())
                    self.expect("op", ")")
                return Func(v.lower(), tuple(args))
            return Ident(v)
        raise ValueError(f"PQL: unexpected token {self.peek()!r}")

    # --- predicates --------------------------------------------------------

    def predicate(self):
        return self.or_pred()

    def or_pred(self):
        terms = [self.and_pred()]
        while self.accept("kw", "or"):
            terms.append(self.and_pred())
        return terms[0] if len(terms) == 1 else BoolOp("OR", tuple(terms))

    def and_pred(self):
        terms = [self.atom_pred()]
        while self.accept("kw", "and"):
            terms.append(self.atom_pred())
        return terms[0] if len(terms) == 1 else BoolOp("AND", tuple(terms))

    def atom_pred(self):
        if self.accept("op", "("):
            p = self.or_pred()
            self.expect("op", ")")
            return p
        if self.accept("kw", "regexp_like"):
            self.expect("op", "(")
            e = self.expr()
            self.expect("op", ",")
            pat = self.expect("string")[1][1:-1].replace("''", "'")
            self.expect("op", ")")
            return RegexpLike(e, pat)
        e = self.expr()
        if self.accept("kw", "is"):
            # The reference GRAMMAR accepts IS [NOT] NULL (PQL2.g4
            # isClause) but the IR cannot carry it (request.thrift:25-34
            # has no null predicate) — Pinot parses it then rejects at
            # conversion. Match that: parse fully, then raise the
            # Pinot-shaped unsupported-operation message instead of a
            # token-level syntax error.
            negated = bool(self.accept("kw", "not"))
            self.expect("kw", "null")
            raise ValueError(
                "Unsupported filter operator: IS "
                + ("NOT NULL" if negated else "NULL")
                + " (the PQL IR has no null predicate; "
                "rewrite with a sentinel default value)")
        if self.accept("kw", "between"):
            low = self.expr()
            self.expect("kw", "and")
            return Between(e, low, self.expr())
        if self.accept("kw", "not"):
            self.expect("kw", "in")
            return In(e, self._value_list(), negated=True)
        if self.accept("kw", "in"):
            return In(e, self._value_list())
        k, v = self.next()
        if k != "op" or v not in ("=", "<>", "!=", "<", "<=", ">", ">="):
            raise ValueError(f"PQL: expected comparison operator, got {v!r}")
        return Cmp("<>" if v == "!=" else v, e, self.expr())

    def _value_list(self):
        self.expect("op", "(")
        vals = [self.factor()]
        while self.accept("op", ","):
            vals.append(self.factor())
        self.expect("op", ")")
        return tuple(v.value for v in vals)

    # --- statement ---------------------------------------------------------

    def statement(self) -> PQLQuery:
        q = PQLQuery()
        self.expect("kw", "select")
        q.select.append((self.expr(), None))
        while self.accept("op", ","):
            q.select.append((self.expr(), None))
        self.expect("kw", "from")
        q.table = self.expect("ident")[1]
        if self.accept("kw", "where"):
            q.where = self.predicate()
        if self.accept("kw", "group"):
            self.expect("kw", "by")
            q.group_by.append(self.expr())
            while self.accept("op", ","):
                q.group_by.append(self.expr())
        if self.accept("kw", "having"):
            q.having_ = self.predicate()
        if self.accept("kw", "order"):
            self.expect("kw", "by")
            q.order_by.append(self._order_item())
            while self.accept("op", ","):
                q.order_by.append(self._order_item())
        if self.accept("kw", "top"):
            q.top = int(self.expect("number")[1])
        if self.accept("kw", "limit"):
            a = int(self.expect("number")[1])
            if self.accept("op", ","):
                q.limit = (a, int(self.expect("number")[1]))
            else:
                q.limit = (0, a)
        self.expect("eof")
        return q

    def _order_item(self):
        e = self.expr()
        if self.accept("kw", "desc"):
            return (e, False)
        self.accept("kw", "asc")
        return (e, True)


def parse_pql(text: str) -> PQLQuery:
    """Pql2Compiler.compileToBrokerRequest analog."""
    return _Parser(_tokenize(text)).statement()


# ---------------------------------------------------------------------------
# Compiler: PQLQuery → one SQL statement
# ---------------------------------------------------------------------------

def _name_of(expr) -> str:
    if isinstance(expr, Ident):
        return "star" if expr.name == "*" else expr.name
    if isinstance(expr, Lit):
        return str(expr.value)
    if isinstance(expr, Func):
        return f"{expr.name}_{'_'.join(_name_of(a) for a in expr.args)}"
    raise ValueError(f"cannot name {expr!r}")


def _sql(expr, having: bool = False) -> str:
    """Render a scalar expression tree (FUNCTION | IDENTIFIER | LITERAL)
    as SQL. In HAVING position (``having=True``) an aggregation call
    refers to its output column."""
    if isinstance(expr, Ident):
        return col_sql(expr.name)
    if isinstance(expr, Lit):
        return lit_sql(expr.value)
    if isinstance(expr, Func):
        if having and _is_agg(expr):
            return ident_sql(_name_of(expr))
        fn = resolve_transform(expr.name)
        if expr.name in LITERAL_TAIL:
            return fn(_sql(expr.args[0], having),
                      *[a.value for a in expr.args[1:]])
        return fn(*[_sql(a, having) for a in expr.args])
    raise ValueError(f"cannot compile {expr!r}")


def _pred_sql(expr, having: bool = False) -> str:
    if isinstance(expr, BoolOp):
        return "(" + f" {expr.op} ".join(
            _pred_sql(p, having) for p in expr.operands) + ")"
    if isinstance(expr, Cmp):
        return f"({_sql(expr.left, having)} {expr.op} {_sql(expr.right, having)})"
    if isinstance(expr, Between):
        e = _sql(expr.expr, having)
        return (f"({e} >= {_sql(expr.low, having)} "
                f"AND {e} <= {_sql(expr.high, having)})")
    if isinstance(expr, In):
        vals = ", ".join(lit_sql(v) for v in expr.values)
        return (f"({_sql(expr.expr, having)} "
                f"{'NOT IN' if expr.negated else 'IN'} ({vals}))")
    if isinstance(expr, RegexpLike):
        return f"({_sql(expr.expr, having)} RLIKE {lit_sql(expr.pattern)})"
    raise ValueError(f"cannot compile predicate {expr!r}")


def _aggregate_sql(q: PQLQuery, view: str) -> tuple[str, list[str], list[str]]:
    """The aggregation of ``q`` over ``view`` as one SELECT — keys, then the
    aggregation functions in request order, HAVING applied, untrimmed —
    plus the key and function output names. The filter → group-by →
    aggregation statement is ``groupby.aggregate_sql``'s."""
    keys = [(_sql(g), _name_of(g)) for g in q.group_by]
    aggs, args = [], {}
    for expr, _ in q.select:
        if _is_agg(expr):
            alias = _name_of(expr)
            aggs.append(Agg(expr.name, None, alias))
            args[alias] = (None if expr.args in ((), (Ident("*"),))
                           else _sql(expr.args[0]))
    body = aggregate_sql(view, keys, aggs, lambda a: args[a.alias],
                         _pred_sql(q.where) if q.where is not None else None)
    if q.having_ is not None:
        body = (f"SELECT * FROM ({body}) "
                f"WHERE {_pred_sql(q.having_, having=True)}")
    return body, [n for _, n in keys], [a.alias for a in aggs]


def _trimmed(src: str, fn: str, key_names: list[str], n: int) -> str:
    """TOP-n of ``src`` by ``fn`` desc with the deterministic key
    tie-break — ``top_n``'s ordering, planned as TakeOrderedAndProject."""
    order = ", ".join([f"{ident_sql(fn)} DESC NULLS LAST"]
                      + [f"{ident_sql(k)} ASC NULLS FIRST" for k in key_names])
    return f"{src} ORDER BY {order} LIMIT {n}"


def pql_sql(q: PQLQuery, view: str, trim: bool = True) -> str:
    """The one SQL statement ``compile_pql`` runs — see there."""
    if q.is_aggregation:
        body, key_names, fns = _aggregate_sql(q, view)
        if key_names and trim:
            n = q.top if q.top is not None else DEFAULT_TOP
            return _trimmed(f"SELECT * FROM ({body})", fns[0], key_names, n)
        return body

    # Selection query
    if len(q.select) == 1 and q.select[0][0] == Ident("*"):
        cols = "*"
    else:
        cols = ", ".join(f"{_sql(e)} AS {ident_sql(_name_of(e))}"
                         for e, _ in q.select)
    out = f"SELECT {cols} FROM {view}"
    if q.where is not None:
        out += f" WHERE {_pred_sql(q.where)}"
    if q.order_by:
        out += " ORDER BY " + ", ".join(
            f"{_sql(e)} {'ASC' if asc else 'DESC'}" for e, asc in q.order_by)
    offset, n = q.limit if q.limit is not None else (0, DEFAULT_LIMIT)
    return out + f" LIMIT {n}" + (f" OFFSET {offset}" if offset else "")


def compile_pql(q: PQLQuery, df: DataFrame, trim: bool = True) -> DataFrame:
    """BrokerRequest → DataFrame plan (the InstancePlanMaker analog — except
    Catalyst owns physical planning): the query rendered as ONE SQL
    statement over ``df``'s temp view and parsed by ONE ``spark.sql``
    call — one py4j round trip and one analysis, where building the same
    plan through the Column API costs one round trip per operator call.

    ``trim=True`` (DataFrame entry point): group-by results are TOP-n by the
    FIRST aggregation function with a deterministic key tie-break — one
    DataFrame can carry only one ordering. ``trim=False`` keeps all groups;
    ``grouped_topn_frame`` trims PER FUNCTION like the broker
    (docs/pql_examples.rst:239-258: each aggregation function returns its
    own top-n group list)."""
    return df.sparkSession.sql(pql_sql(q, pql_view(df), trim))


def plan_scan_stats(df: DataFrame, total_time_ms: float | None = None) -> dict:
    """Pinot-style execution stats (BrokerResponseNative.java:43, filled by
    BaseBrokerRequestHandler.java:114) read from the EXECUTED plan's
    operator metrics — call after the query ran.

    Spark-semantics mapping (each a faithful analog, documented where the
    execution models diverge):

    - totalDocs — rows leaving the parquet scans (post row-group/partition
      pruning); numDocsScanned — rows surviving the filter operators.
      When no scan is left to read — AQE replaced the executed plan of a
      filter that matched nothing with an empty relation — nothing was
      scanned, and every count is 0. When the scans read no row (that
      case, or a filter whose row-group stats ruled out every row group),
      ``PQLEngine.execute`` takes totalDocs and numSegments{Queried,
      Processed} from the segment records.
    - numEntriesScannedInFilter — Σ per Filter of (input rows × columns
      referenced by the predicate): the column-value reads the filter
      phase performed, Pinot's definition.
    - numEntriesScannedPostFilter — numDocsScanned × columns materialized
      by the scan (ReadSchema width): the values the post-filter operators
      consumed (column pruning makes this narrow, as Pinot's projection
      phase does).
    - numSegments{Queried,Processed} — segment = parquet file: files the
      pruned listing handed to tasks. numSegmentsMatched — files that
      produced rows; per-file row counts aren't in Spark's scan metrics,
      so this reports files-processed when any row matched, 0 otherwise
      (exact at the two ends; in between Spark simply doesn't know).
    - numServers{Queried,Responded} — executors that hosted tasks (the
      driver alone in local mode). Spark retries failed tasks internally,
      so Queried == Responded by the time results exist.
    - totalTimeMs — wall-clock of parse→execute, passed by the caller.
    """
    totals, filtered, entries_filter = [], [], []
    files, scan_width = [], []
    seen: set[int] = set()  # plan-node ids — count reused subtrees once

    maps: dict[int, object] = {}  # plan-node id → its metrics map

    def metric(node, name, nid=None):
        # one metrics() fetch per node and one keyed lookup per metric
        # (iterating the map cost ~3 round trips per entry)
        nid = node.id() if nid is None else nid
        if nid not in maps:
            maps[nid] = node.metrics()
        got = maps[nid].get(name)
        return got.get().value() if got.isDefined() else None

    def descendant_rows(node):
        """numOutputRows of the nearest descendant that tracks it (the
        Filter's input side — codegen-internal nodes still carry it)."""
        it = node.children().iterator()
        while it.hasNext():
            c = it.next()
            v = metric(c, "numOutputRows")
            if v is not None:
                return v
            v = descendant_rows(c)
            if v is not None:
                return v
        return None

    def walk(node):
        nid = node.id()
        if nid in seen:
            return
        seen.add(nid)
        name = node.nodeName()
        if name.startswith("Scan "):
            v = metric(node, "numOutputRows", nid)
            if v is not None:
                totals.append(v)
            nf = metric(node, "numFiles", nid)
            if nf is not None:
                files.append(nf)
            try:
                scan_width.append(node.output().size())
            except Exception:
                pass
        elif name == "Filter":
            v = metric(node, "numOutputRows", nid)
            if v is not None:
                filtered.append(v)
            inp = descendant_rows(node)
            if inp is not None:
                try:
                    ncols = node.condition().references().size()
                except Exception:
                    ncols = 1
                entries_filter.append(inp * max(ncols, 1))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    total = sum(totals)
    scanned = sum(filtered) if filtered else total
    n_files = sum(files)

    n_exec = _servers(df.sparkSession)
    stats = {
        "totalDocs": total,
        "numDocsScanned": scanned,
        "numEntriesScannedInFilter": sum(entries_filter),
        "numEntriesScannedPostFilter": scanned * max(scan_width, default=0),
        "numSegmentsQueried": n_files,
        "numSegmentsProcessed": n_files,
        "numSegmentsMatched": n_files if scanned else 0,
        "numServersQueried": n_exec,
        "numServersResponded": n_exec,
    }
    if total_time_ms is not None:
        stats["totalTimeMs"] = int(round(total_time_ms))
    return stats


def _servers(spark: SparkSession) -> int:
    """numServersQueried/Responded: the executors that host tasks (the
    local JVM alone in local mode)."""
    try:
        return max(len(spark.sparkContext._jsc.sc().getExecutorIds()), 1)
    except Exception:
        return 1


def grouped_topn_frame(q: PQLQuery, src: DataFrame):
    """The bounded per-function trim plan for a grouped aggregation, as
    ONE statement: ``WITH g AS (<aggregate>)`` and one ``UNION ALL``
    branch per aggregation function — TakeOrderedAndProject over g by
    that function, with a ``__fn`` marker — so at most top × n_functions
    rows ever reach the driver (the reference's trim-at-server,
    AggregationGroupByTrimmingService.java:58-62). The branches share g's
    plan, so the scan, partial aggregate and shuffle run once: every
    branch after the first reads a ReusedExchange (plan-asserted in
    tests/test_pql.py).

    Returns (frame, key_cols, fn_cols, n)."""
    body, key_cols, fn_cols = _aggregate_sql(q, pql_view(src))
    n = q.top if q.top is not None else DEFAULT_TOP
    # reference semantics: EACH function returns its own top-n groups ordered
    # by that function's value desc (docs/pql_examples.rst:239-258;
    # BrokerReduceService trims per AggregationInfo).
    branches = " UNION ALL ".join(
        "(" + _trimmed(f"SELECT *, {lit_sql(c)} AS __fn FROM g", c,
                       key_cols, n) + ")"
        for c in fn_cols)
    frame = src.sparkSession.sql(f"WITH g AS ({body}) {branches}")
    return frame, key_cols, fn_cols, n


class QueryTimeout(Exception):
    """Query exceeded its broker deadline (the reference returns an
    in-band EXECUTION_TIMEOUT exception in the BrokerResponse)."""


class PQLEngine:
    """Entry point A analog (BaseBrokerRequestHandler.handleRequest):
    parse → compile → execute, plus Pinot-shaped response output
    (BrokerResponseNative.java:43)."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.catalog = Catalog(spark, sf_dir) if sf_dir else Catalog(spark)

    def dataframe(self, pql: str) -> DataFrame:
        q = parse_pql(pql)
        return compile_pql(q, self.catalog.table(q.table))

    def execute(self, pql: str, timeout_ms: int | None = None) -> dict:
        """Run and shape like BrokerResponseNative: selectionResults or
        aggregationResults + stats.

        The segment records answer first (``_metadata_response``): an
        unfiltered count-only query is the sum of the segments' row
        counts, and a filter that no segment's column statistics can
        match gives the empty answer — both with no Spark job, the way
        Pinot's plan maker answers COUNT(*) from segment metadata and its
        pruner drops segments. Every other query runs its compiled
        statement (``_spark_response``).

        Grouped aggregations trim PER FUNCTION **in Spark** — one bounded
        TakeOrderedAndProject branch per aggregation function, unioned, so
        the driver collects ≤ top × n_functions rows no matter how many
        groups exist (the reference's trim-at-server,
        AggregationGroupByTrimmingService.java:58-62 — never a full-group
        collect).

        ``timeout_ms`` enforces the broker's per-query deadline
        (BaseBrokerRequestHandler brokerTimeoutMs; in-band TIMEOUT
        exception in BrokerResponse): the query's Spark jobs run in a
        dedicated job group and a watchdog cancels the group — repeatedly,
        so a cancel landing between two of the query's sequential jobs
        still kills the next one — until the call returns."""
        if timeout_ms is not None:
            import threading
            import uuid

            sc = self.catalog.spark.sparkContext
            group = f"pql-{uuid.uuid4().hex[:12]}"
            sc.setJobGroup(group, pql[:120], interruptOnCancel=True)
            done = threading.Event()
            timed_out = threading.Event()

            def watchdog() -> None:
                if not done.wait(timeout_ms / 1000.0):
                    timed_out.set()
                    while not done.wait(0.05):
                        sc.cancelJobGroup(group)

            t = threading.Thread(target=watchdog, daemon=True)
            t.start()
            try:
                return self.execute(pql)
            except Exception as ex:
                if timed_out.is_set():
                    raise QueryTimeout(
                        f"query exceeded {timeout_ms} ms") from ex
                raise
            finally:
                done.set()
                sc.setLocalProperty("spark.jobGroup.id", None)
        t0 = time.perf_counter()
        q = parse_pql(pql)
        src = self.catalog.table(q.table)
        resp = _metadata_response(q, src, t0)
        if resp is None:
            resp = _spark_response(q, src, t0)
        return resp


def _elapsed_ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000


def _spark_response(q: PQLQuery, src: DataFrame, t0: float) -> dict:
    """The response of ``q`` over ``src`` computed by Spark: the compiled
    statement runs, and its stats come from the executed plan. When the
    scans read no row — AQE left no scan, or the row-group stats ruled
    out every row group — the queried segments come from their records:
    ``totalDocs`` is their row total, as in Pinot, not 0."""

    def finish(df: DataFrame) -> dict:
        stats = plan_scan_stats(df, _elapsed_ms(t0))
        if not stats["totalDocs"]:
            segs = table_segments(src)
            if segs is not None:
                stats.update(totalDocs=sum(s.rows for s in segs),
                             numSegmentsQueried=len(segs),
                             numSegmentsProcessed=len(segs))
        return stats

    if q.is_aggregation and q.group_by:
        u, key_cols, fn_cols, n = grouped_topn_frame(q, src)
        rows = u.collect()  # ≤ n × n_functions rows
        stats = finish(u)

        def per_function(c: str) -> list[dict]:
            # same tie-break as top_n's Spark ordering: NATIVE-typed
            # key asc, nulls first (str(key) would rank 10 before 2
            # and could change which tied groups survive the trim)
            sel = [r for r in rows if r["__fn"] == c]
            sel.sort(key=lambda r: (
                -(r[c] if r[c] is not None else float("-inf")),
                tuple((r[k] is not None, r[k]) for k in key_cols)))
            return [{"group": [r[k] for k in key_cols], "value": r[c]}
                    for r in sel]

        return _grouped(key_cols, fn_cols, per_function, stats)

    df = compile_pql(q, src)  # scalar aggregation or selection
    rows = df.collect()
    cols = df.columns
    stats = finish(df)
    if q.is_aggregation:
        return _scalar(cols, lambda c: rows[0][c] if rows else None, stats)
    return _selection(cols, [[r[c] for c in cols] for r in rows], stats)


def _grouped(key_cols, fn_cols, groups, stats: dict) -> dict:
    return {
        "aggregationResults": [{
            "function": c,
            "groupByColumns": key_cols,
            "groupByResult": groups(c),
        } for c in fn_cols],
        **stats,
    }


def _scalar(cols, value, stats: dict) -> dict:
    return {"aggregationResults": [{"function": c, "value": value(c)}
                                   for c in cols],
            **stats}


def _selection(cols, results, stats: dict) -> dict:
    return {"selectionResults": {"columns": cols, "results": results},
            **stats}


# ---------------------------------------------------------------------------
# Segment metadata: the plan maker's metadata answers and the column-value
# segment pruner
# ---------------------------------------------------------------------------

#: the comparison a literal-first predicate (``5 < x``) states on the column
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
#: predicates that are false for NaN — the one value parquet statistics
#: leave out of a FLOAT/DOUBLE column's min/max, and one Spark ranks
#: above every number
_NAN_FALSE = {"=", "<", "<=", "between", "in"}


def _as_str(v) -> str:
    if not isinstance(v, str):
        raise TypeError(v)
    return v


def _as_int(v) -> int:
    if not isinstance(v, int) or isinstance(v, bool):
        raise TypeError(v)
    return v


def _as_float(v) -> float:
    if not isinstance(v, (int, float)) or isinstance(v, bool):
        raise TypeError(v)
    return float(v)


def _domain(dtype, op: str, lits):
    """The conversion that maps a column of ``dtype``'s statistics and the
    predicate's literals into the domain Spark compares them in, or
    ``None`` when the predicate keeps every segment: integer columns
    compare with integer literals as integers and with any other numeric
    literal as doubles; FLOAT/DOUBLE columns only under a NaN-false
    predicate; UTF-8 string columns with string literals (byte order is
    code-point order)."""
    if isinstance(dtype, StringType):
        return _as_str
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        ints = all(isinstance(v, int) and not isinstance(v, bool)
                   for v in lits)
        return _as_int if ints else _as_float
    if op not in _NAN_FALSE:
        return None
    if isinstance(dtype, DoubleType):
        return _as_float
    if isinstance(dtype, FloatType) and all(isinstance(v, float)
                                            for v in lits):
        return _as_float
    return None


def _prunes(pred, seg, cols: dict) -> bool:
    """Whether no row of segment ``seg`` can satisfy ``pred``, from its
    column statistics (``ColumnValueSegmentPruner``): ``= < <= > >=``,
    BETWEEN and IN between a column and literals intersect the predicate's
    values with the column's [min, max]; AND prunes when any operand
    does, OR when every operand does. ``cols`` are the columns the table
    frame passes through unchanged (``catalog.segment_columns``); any
    other predicate keeps the segment."""
    if isinstance(pred, BoolOp):
        hits = [_prunes(p, seg, cols) for p in pred.operands]
        return any(hits) if pred.op == "AND" else all(hits)
    if isinstance(pred, Cmp) and pred.op in _FLIP:
        if isinstance(pred.left, Ident) and isinstance(pred.right, Lit):
            col, op, lits = pred.left, pred.op, (pred.right.value,)
        elif isinstance(pred.left, Lit) and isinstance(pred.right, Ident):
            col, op, lits = pred.right, _FLIP[pred.op], (pred.left.value,)
        else:
            return False
    elif (isinstance(pred, Between) and isinstance(pred.low, Lit)
          and isinstance(pred.high, Lit)):
        col, op, lits = pred.expr, "between", (pred.low.value,
                                               pred.high.value)
    elif isinstance(pred, In) and not pred.negated:
        col, op, lits = pred.expr, "in", pred.values
    else:
        return False
    if (not isinstance(col, Ident) or col.name not in cols
            or col.name not in seg.columns):
        return False
    conv = _domain(cols[col.name], op, lits)
    if conv is None:
        return False
    lo, hi, _ = seg.columns[col.name]
    try:
        lo, hi, vs = conv(lo), conv(hi), [conv(v) for v in lits]
    except (TypeError, OverflowError):
        return False
    if op == "in":
        return all(v < lo or v > hi for v in vs)
    if op == "between":
        return vs[0] > vs[1] or vs[1] < lo or vs[0] > hi
    v = vs[0]
    return {"=": v < lo or v > hi, "<": lo >= v, "<=": lo > v,
            ">": hi <= v, ">=": hi < v}[op]


def _metadata_response(q: PQLQuery, src: DataFrame, t0: float) -> dict | None:
    """The response of ``q`` from ``src``'s segment records, with no Spark
    job (Pinot's ``MetadataBasedAggregationOperator`` and segment
    pruning), or ``None`` when Spark must run it. Two cases:

    - no WHERE and every select item a ``count``: the sum of the row
      counts;
    - a WHERE that no segment can match (``_prunes``): an empty
      ``groupByResult`` per function for a grouped query, empty
      ``results`` for a selection, 0 for a count-only scalar query. The
      statement is still compiled, untrimmed (analysis runs no job), so
      its column names and analysis errors are the Spark path's. Any
      other scalar function keeps Spark's own empty value.

    Stats follow Pinot: ``totalDocs`` and ``numSegmentsQueried`` cover
    every segment, ``numSegmentsProcessed``/``Matched`` the surviving
    segments that have rows, ``numDocsScanned`` the answered count, and
    the entry counts are 0. Only a frame that is a plain parquet relation
    (``catalog.segment_columns``) has records."""
    count_only = (not q.group_by and q.having_ is None
                  and all(isinstance(e, Func) and e.name == "count"
                          for e, _ in q.select))
    if not count_only and (q.where is None
                           or (q.is_aggregation and not q.group_by)):
        return None
    segs = table_segments(src)
    if segs is None:
        return None
    seg_cols = segment_columns(src)
    live = [s for s in segs if s.rows and (
        q.where is None or not _prunes(q.where, s, seg_cols))]
    if q.where is not None and live:
        return None
    docs = sum(s.rows for s in live)
    # count(..) renders count(1): an unfiltered count-only query cannot
    # fail analysis, and its names are the select items'
    cols = (compile_pql(q, src, trim=False).columns if q.where is not None
            else [_name_of(e) for e, _ in q.select])
    n_exec = _servers(src.sparkSession)
    stats = {
        "totalDocs": sum(s.rows for s in segs),
        "numDocsScanned": docs,
        "numEntriesScannedInFilter": 0,
        "numEntriesScannedPostFilter": 0,
        "numSegmentsQueried": len(segs),
        "numSegmentsProcessed": len(live),
        "numSegmentsMatched": len(live),
        "numServersQueried": n_exec,
        "numServersResponded": n_exec,
        "totalTimeMs": int(round(_elapsed_ms(t0))),
    }
    if q.group_by:  # keys, then the functions (``_aggregate_sql``)
        k = len(q.group_by)
        return _grouped(cols[:k], cols[k:], lambda c: [], stats)
    if q.is_aggregation:
        return _scalar(cols, lambda c: docs, stats)
    return _selection(cols, [], stats)
