"""Ella: the embedded datastore facade.

Reference: `ella::open/create/connect` (ella/src/lib.rs:86-105) +
EllaState DDL dispatch (ella-engine/src/engine/state.rs:48-279).
One `Ella` instance = one datastore root + one SparkSession. Tables
in the default `ella.public` namespace register as Spark temp views,
so the full Spark SQL surface (the DataFusion-27 superset, SURVEY.md
§2.B) works over topics and views transparently.
"""

from __future__ import annotations

import collections
import json
import operator
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from functools import cached_property, partial
from pathlib import Path
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ella_spark.catalog import (
    DEFAULT_CATALOG,
    DEFAULT_SCHEMA,
    CatalogStore,
    TableEntry,
)
from ella_spark.lazy import Lazy
from ella_spark.session import conf_version, local_frame
from ella_spark.topic import Publisher, Topic
from ella_spark.tvf import TVFS, Tvf, own_tables_blanked
from ella_spark.types import TIME_COLUMN, Column, topic_schema

#: SQL type name -> ella dtype (ella dtype names pass through)
_SQL_DTYPES = {
    "bigint": "int64", "long": "int64", "double": "float64",
    "float": "float32", "real": "float32", "int": "int32",
    "integer": "int32", "smallint": "int16", "tinyint": "int8",
    "varchar": "string", "text": "string", "boolean": "bool",
}
#: `now()` in query text — evaluated ONCE per statement as epoch-ns
#: (the reference's streaming query-time cut, README.md:96-105; Time
#: is ns, ella-common/src/time.rs:28-45). Spark's own now() returns a
#: µs timestamp which would not compare against our ns long columns.
_NOW_RE = re.compile(r"\bnow\s*\(\s*\)", re.I)
_INFO_SCHEMA_RE = re.compile(r"\binformation_schema\s*\.\s*(tables|columns)\b", re.I)

# pattern fragments of the statement table (``Ella._STATEMENTS``)

#: a catalog object name, optionally schema- or catalog-qualified
_NAME = r"([A-Za-z0-9_.]+)"
_IF_EXISTS = r"(if\s+exists\s+)?"
_IF_NOT_EXISTS = r"(if\s+not\s+exists\s+)?"
_OR_REPLACE = r"(or\s+replace\s+)?"
#: end of a statement: an optional `;`
_END = r"\s*;?\s*$"
#: result schemas: no rows, one row count
_OK = "ok boolean"
_COUNT = "count long"


@dataclass(frozen=True)
class _Verb:
    """One statement shape ``Ella.query`` runs: ``run(db, match)``, or
    ``run(db, match, params)`` for a verb that takes ``params``. It
    returns the rows of the ``result`` schema (a scalar is one row;
    ``_OK`` verbs yield none), or with ``result=None`` the frame."""

    pattern: str
    run: Callable
    result: str | None = _OK
    params: bool = False
    #: the statement reads catalog data: register what it names first
    reads: bool = False

    @cached_property
    def regex(self) -> re.Pattern:
        return re.compile(r"\s*" + self.pattern, re.I | re.S)


_WORD_RE = re.compile(r"\w+")
_QUOTED_RE = re.compile(r"[`'\"]([^`'\"]+)[`'\"]")


def _name_tokens(sql: str) -> set[str]:
    """Every name ``sql`` may reference, lower-cased: each word, plus
    the whole text between quotes (a backticked `odd-name`, a TVF's
    'table' argument). A superset of the relation names Spark's parser
    finds, compared case-insensitively like Spark's default resolution."""
    low = sql.lower()
    return set(_WORD_RE.findall(low)) | set(_QUOTED_RE.findall(low))


#: `time <op> literal` comparisons that bound a scan, and their mirror
#: for `literal <op> time`
_TIME_CMP = {
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "EqualTo": "=",
}
_MIRROR = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "=": "="}
_INT_BITS = {"byte": 8, "short": 16, "integer": 32, "long": 64}
#: parse-tree nodes whose own strings name columns, functions or
#: aliases, never a relation to read
_NAMING_NODES = {
    "UnresolvedAttribute",
    "UnresolvedStar",
    "UnresolvedFunction",
    "UnresolvedAlias",
    "Alias",
}


class _Reads(NamedTuple):
    """What a SQL text reads, from Spark's own parse (``_parse_reads``)."""

    #: relation -> the ``time`` window it needs
    windows: dict[str, tuple[int | None, int | None]]
    #: every relation name, or None when not known
    relations: frozenset | None


def _parse_reads(spark, sql: str) -> _Reads:
    """What ``sql`` reads, from one parse by Spark's own parser, kept
    per session, text and session conf version (the parser follows
    session confs; ``session.conf_version``).

    ``relations`` holds every relation name the parse scans,
    lower-cased (a multi-part name keeps its parts joined by ``, ``; a
    CTE name counts). It is None when the text names a relation
    through ``IDENTIFIER(...)``, and, with ``windows`` empty, when
    there is no parse to walk (below).

    ``windows`` is the ``time`` window each relation needs:
    ``{name: (start_ns, end_ns)}``, half-open, ``None`` for an open
    end, keyed by the lower-cased single-part relation name.

    A name is in ``windows`` only when every mention of it in the parse
    is a scan directly under a ``Filter`` (through at most a
    ``SubqueryAlias``) whose condition ANDs at least one comparison
    (``<``, ``<=``, ``>``, ``>=``, ``=``, ``BETWEEN``) of ``time`` —
    unqualified or qualified by that scan's own alias — with an integral
    literal or a ``+``/``-`` of integral literals; its window is the
    hull of those scans. Any other mention (a join-level filter, an
    ``OR``, a correlated ``outer.time``, a string argument, a parameter,
    time travel) leaves the name out, as does a mention Spark's parse
    does not carry (a comment, a hint), a parse error, or a plan that
    is not inspectable (Spark Connect, FORCE_PLAN_OPAQUE). So a window
    may be too wide, never too narrow. Subquery plans and CTE bodies
    nest in the parse and are walked like the outer plan."""
    if FORCE_PLAN_OPAQUE or getattr(spark, "_jsparkSession", None) is None:
        return _Reads({}, None)
    memo = getattr(spark, "_ella_parses", None)
    if memo is None:
        memo = spark._ella_parses = collections.OrderedDict()
    key = (conf_version(spark), sql)
    hit = memo.get(key)
    if hit is None:
        hit = memo[key] = _parse(spark, sql)
        if len(memo) > _PARSE_CAP:
            memo.popitem(last=False)
    return hit


def _parse(spark, sql: str) -> _Reads:
    """``_parse_reads`` without its memo."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    scans: dict[str, list] = {}  # name -> windows of its bounded scans
    mentioned: set[str] = set()
    strings: list[str] = []  # every string of the parse
    relations: set[str] | None = set()

    def tree(flat: list, i: int = 0):
        # toJSON flattens a tree pre-order; num-children rebuilds it
        node, kids, i = flat[i], [], i + 1
        for _ in range(node["num-children"]):
            kid, i = tree(flat, i)
            kids.append(kid)
        return (node, kids), i

    def cls(t) -> str:
        return t[0]["class"].rsplit(".", 1)[-1]

    def is_time(t, alias: str) -> bool:
        if cls(t) != "UnresolvedAttribute":
            return False
        parts = t[0]["nameParts"].strip("[]").lower().split(", ")
        return parts in ([TIME_COLUMN], [alias, TIME_COLUMN])

    def integral(t):
        """(value, bits) of an integral literal expression, else None;
        None too when Spark's own arithmetic would overflow."""
        if cls(t) == "Literal":
            bits = _INT_BITS.get(t[0].get("dataType"))
            if bits is None or t[0].get("value") is None:
                return None
            return int(t[0]["value"]), bits
        if cls(t) not in ("Add", "Subtract"):
            return None
        a, b = integral(t[1][0]), integral(t[1][1])
        if a is None or b is None:
            return None
        v = a[0] + b[0] if cls(t) == "Add" else a[0] - b[0]
        bits = max(a[1], b[1])
        return (v, bits) if -(1 << bits - 1) <= v < 1 << bits - 1 else None

    def window(cond, alias: str) -> tuple:
        lo = hi = None
        todo = [tree(cond)[0]]
        while todo:
            t = todo.pop()
            bounds = []  # (op, value) with time on the left
            if cls(t) == "And":
                todo.extend(t[1])
            elif cls(t) in _TIME_CMP:
                op, (left, right) = _TIME_CMP[cls(t)], t[1]
                if is_time(left, alias) and (v := integral(right)):
                    bounds = [(op, v[0])]
                elif is_time(right, alias) and (v := integral(left)):
                    bounds = [(_MIRROR[op], v[0])]
            elif (
                cls(t) == "UnresolvedFunction"
                and t[0]["nameParts"] == "[between]"
                and not t[0].get("isDistinct")
                and len(t[1]) == 3
                and is_time(t[1][0], alias)
                and (a := integral(t[1][1]))
                and (b := integral(t[1][2]))
            ):
                bounds = [(">=", a[0]), ("<=", b[0])]
            for op, v in bounds:
                if op in (">", ">=", "="):
                    v0 = v + 1 if op == ">" else v
                    lo = v0 if lo is None else max(lo, v0)
                if op in ("<", "<=", "="):
                    v1 = v if op == "<" else v + 1
                    hi = v1 if hi is None else min(hi, v1)
        # a bound outside the long range leaves that end open
        return tuple(
            None if v is None or not -(1 << 63) <= v < 1 << 63 else v
            for v in (lo, hi)
        )

    def walk(value, names: bool = True) -> None:
        if isinstance(value, str):
            strings.append(value)
            if names:
                mentioned.update(_name_tokens(value))
        elif isinstance(value, list):
            if value and isinstance(value[0], dict) and "num-children" in value[0]:
                walk_tree(tree(value)[0])
            else:
                for v in value:
                    walk(v, names)
        elif isinstance(value, dict):  # a product: tuple, AliasIdentifier, ...
            naming = value.get("product-class", "").endswith("AliasIdentifier")
            for k, v in value.items():
                if k != "product-class":
                    walk(v, names and not naming)

    def walk_tree(t, bounded_scan=None) -> None:
        nonlocal relations
        node, kids = t
        if cls(t) == "UnresolvedRelation" and relations is not None:
            relations.add(node["multipartIdentifier"].strip("[]").lower())
        elif "UnresolvedIdentifier" in cls(t):
            relations = None
        if cls(t) == "Filter":
            scan, alias = kids[0], None
            if cls(scan) == "SubqueryAlias":
                alias = scan[0]["identifier"]["name"].lower()
                scan = scan[1][0]
            ident = scan[0].get("multipartIdentifier", "")
            if cls(scan) == "UnresolvedRelation" and ", " not in ident:
                name = ident.strip("[]").lower()
                lo, hi = window(node["condition"], alias or name)
                if (lo, hi) != (None, None):
                    bounded_scan = scan[0]
                    scans.setdefault(name, []).append((lo, hi))
        own = node is bounded_scan or cls(t) in _NAMING_NODES
        for k, v in node.items():
            if k not in ("class", "num-children"):
                walk(v, names=not (own and isinstance(v, str)))
        for kid in kids:
            walk_tree(kid, bounded_scan)

    try:
        parsed = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
        walk(json.loads(parsed.toJSON()))
    except (
        PySparkException,
        Py4JError,
        ValueError,
        LookupError,
        TypeError,
        RecursionError,
    ):
        # a parse error or a plan shape not walked here: whole topics
        return _Reads({}, None)
    low = sql.lower()

    def count(name: str, text: str) -> int:
        return len(re.findall(rf"(?<!\w){re.escape(name)}(?!\w)", text))

    windows = {
        name: _hull(ws)
        for name, ws in scans.items()
        if name not in mentioned
        # every mention in the text is one the parse carries
        and count(name, low) <= sum(count(name, s.lower()) for s in strings)
    }
    return _Reads(windows, None if relations is None else frozenset(relations))


def _ref_tokens(sql: str) -> set[str]:
    """``_name_tokens`` of ``sql`` without the table argument of the
    table functions that read their table themselves: such a call
    needs no registration of that table."""
    return _name_tokens(own_tables_blanked(sql))


#: parses ``_parse_reads`` keeps per session, oldest out
_PARSE_CAP = 256


def _hull(windows) -> tuple:
    """The smallest window covering all ``windows`` (``None`` = open)."""
    los, his = zip(*windows)
    return (None if None in los else min(los), None if None in his else max(his))


def _relax_nullability(dt):
    """The same value type with every containsNull / valueContainsNull /
    struct-field nullable flag forced TRUE. Spark refuses a cast from a
    nullable-element array to a non-nullable-element one (true->false),
    so casting merged MV state back to a snapshot schema that recorded
    collect_set's containsNull=false fails exactly when the merge
    union/flatten produced the relaxed form. The relaxed target is
    always castable-to and parquet stores it identically."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, ArrayType):
        return ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _relax_nullability(dt.keyType),
            _relax_nullability(dt.valueType),
            True,
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _relax_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _splice_spans(sql: str, repls: list[tuple[int, int, str]]) -> str:
    """``sql`` with each [start, end) span, left to right, replaced by
    a ``{name}`` placeholder and every other brace doubled, so the
    ``str.format`` that ``spark.sql`` runs over a text with DataFrame
    arguments gives the rest back verbatim. Span-based (not
    str.replace), so identical text elsewhere, such as inside a string
    literal, is never replaced."""
    out: list[str] = []
    last = 0
    for start, end, name in repls:
        out.append(sql[last:start].replace("{", "{{").replace("}", "}}"))
        out.append("{" + name + "}")
        last = end
    out.append(sql[last:].replace("{", "{{").replace("}", "}}"))
    return "".join(out)


#: Iceberg-style time travel: `<ident> FOR VERSION AS OF <n>`. The FOR
#: is mandatory: without it, `mv VERSION AS OF 1` is valid vanilla SQL
#: (VERSION parses as a table alias), so a textual rewrite could
#: silently change the meaning of unrelated queries; `FOR VERSION`
#: never is, which makes every match intentional.
_VERSION_ASOF_RE = re.compile(
    r"([A-Za-z0-9_.]+)\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)", re.I
)
#: text ``_rewrite_reads`` never replaces: a quoted SQL string literal
#: (a backslash escapes the next character; `'it''s'` is two adjacent
#: literals) or a comment
_SQL_VERBATIM_RE = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|--[^\n]*|/\*.*?\*/", re.S
)
#: `<mv> FOR TIMESTAMP AS OF '<iso>'|<epoch_ns>` — resolved to the
#: newest version committed at-or-before the bound via version_log
_TIMESTAMP_ASOF_RE = re.compile(
    r"([A-Za-z0-9_.]+)\s+FOR\s+TIMESTAMP\s+AS\s+OF\s+('[^']+'|\d+)", re.I
)


#: Test hook simulating a Spark Connect session, where DataFrames
#: carry no ``_jdf`` and query plans are not driver-inspectable. When
#: True, ``_jdf_qe`` raises exactly as Connect would, so the degraded-
#: mode fallbacks (fail-closed full MV recompute; captured-explain
#: EXPLAIN output) execute for real on a classic session — the only
#: way to run them here, since grpcio is absent and the full Connect
#: matrix (test_connect.py) skips.
FORCE_PLAN_OPAQUE = False


def _jdf_qe(df):
    """``df._jdf.queryExecution()``, raising where the plan is not
    inspectable (Spark Connect has no ``_jdf``; see FORCE_PLAN_OPAQUE).
    Callers keep their own except-arms: each site's fallback policy
    (fail closed vs. degrade output) is part of its contract."""
    if FORCE_PLAN_OPAQUE:
        raise AttributeError("simulated Spark Connect session: no _jdf")
    return df._jdf.queryExecution()


def _plan_with_metrics(executed_plan) -> str:
    """Render the executed physical plan as one line per operator with
    its populated SQLMetric values — the Spark analog of DataFusion's
    EXPLAIN ANALYZE "Plan with Metrics" annotation. Walks the JVM plan
    tree via py4j (AQE-final after execution); adaptive/reused
    subtrees are expanded through their child plans."""
    lines: list[str] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        mets = []
        it = node.metrics().iterator()
        while it.hasNext():
            e = it.next()
            mets.append(f"{e._1()}={e._2().value()}")
        lines.append("  " * depth + name + (": " + ", ".join(sorted(mets)) if mets else ""))
        # AdaptiveSparkPlan/QueryStage hide the real tree behind
        # accessor methods rather than children(). Resolve the child
        # BEFORE recursing: recursing inside the probe's try would
        # swallow a failure from deep in the subtree and re-walk it
        # through the next accessor / children(), duplicating lines.
        child = None
        for accessor in ("executedPlan", "plan"):
            try:
                child = getattr(node, accessor)()
                break
            except Exception:
                child = None
        if child is not None:
            walk(child, depth + 1)
            return
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next(), depth + 1)

    walk(executed_plan, 0)
    return "\n".join(lines)


def _state_key(prefix: str, i: int) -> str:
    """refresh_state key for the i-th FROM table ("topic"/"shards" for
    the first, "topic2"/"shards2" for the second, … — the numbered
    scheme round-3 states already use, extended past two)."""
    return prefix if i == 0 else f"{prefix}{i + 1}"


def _cursor_state(tables: list[str], listings: list[list]) -> dict:
    """refresh_state of a snapshot over ``tables`` (its row count is
    added at commit): each FROM table's name and the basenames of the
    shards the snapshot consumed."""
    state = {}
    for i, (name, shards) in enumerate(zip(tables, listings)):
        state[_state_key("topic", i)] = name
        state[_state_key("shards", i)] = [p.name for p in shards]
    return state


def _trim_log(entry: TableEntry, new_version: int) -> list:
    """Append (new_version, now_ns) to the MV's commit log, trimmed to
    the retention window — the map `FOR TIMESTAMP AS OF` resolves
    against."""
    cutoff = new_version - max(entry.keep_versions, 1) + 1
    log = [t for t in entry.version_log if cutoff <= t[0] < new_version]
    log.append((new_version, time.time_ns()))
    return log


class Ella:
    #: DataFusion-dialect scalar functions the reference's SQL surface
    #: has but Spark SQL lacks, registered as SQL UDFs (pure
    #: expressions — they inline into the plan, no Python round-trip).
    #: A pyella user's `SELECT date_bin(...)` works unchanged.
    _SQL_COMPAT_FNS = (
        # date_bin over epoch-ns longs (the TSDB workhorse,
        # SURVEY §2.B date/time row); origin-anchored floor
        "CREATE OR REPLACE TEMPORARY FUNCTION date_bin("
        "stride BIGINT, t BIGINT, origin BIGINT) RETURNS BIGINT "
        "RETURN t - pmod(t - origin, stride)",
        "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) "
        "RETURNS INT RETURN instr(s, sub)",
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_seconds(x BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_seconds(x)",
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_millis(x BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_millis(x)",
        "CREATE OR REPLACE TEMPORARY FUNCTION to_timestamp_micros(x BIGINT) "
        "RETURNS TIMESTAMP RETURN timestamp_micros(x)",
    )

    def __init__(self, store: CatalogStore, spark: SparkSession):
        self.store = store
        self.spark = spark
        #: ident -> (stamp, input frames, frame) of each view and
        #: refreshed materialized view a statement bound (_bound_frame)
        self._frames: dict[tuple, tuple] = {}
        # A kept table-function view frame is a localCheckpoint (and
        # operators cut lineage with one), whose blocks die with the
        # executor that holds them. Only on a local master is that
        # executor the driver, which outlives every frame; elsewhere a
        # view calling a table function is rebuilt for every statement
        # (_bound_frame).
        classic = getattr(spark, "_jsparkSession", None) is not None
        self._checkpoints_outlive_frames = classic and bool(
            re.fullmatch(r"local(\[.*\])?", spark.sparkContext.master)
        )
        for ddl in self._SQL_COMPAT_FNS:
            spark.sql(ddl)
        self._register_all()

    # -- open/create (ella/src/lib.rs:86-105) --------------------------------

    @classmethod
    def create(cls, root: str, spark: SparkSession | None = None) -> "Ella":
        spark = spark or _default_session()
        return cls(CatalogStore.create(root), spark)

    @classmethod
    def open(cls, root: str, spark: SparkSession | None = None) -> "Ella":
        spark = spark or _default_session()
        return cls(CatalogStore.open(root), spark)

    @classmethod
    def open_or_create(cls, root: str, spark: SparkSession | None = None) -> "Ella":
        try:
            return cls.open(root, spark)
        except FileNotFoundError:
            return cls.create(root, spark)

    @classmethod
    def connect(cls, root: str, remote_url: str) -> "Ella":
        """Remote mode — the Spark Connect analog of the reference's
        client/server transport (ella-server/src/client.rs:120-146:
        Flight SQL for queries + gRPC for DDL). SURVEY §0 scopes the
        reference's custom wire protocol out and names Spark Connect
        as the platform answer: a thin client opens a SparkSession
        against a remote Connect endpoint (``sc://host:port``, or a
        ``local[n]`` master to spawn an in-process server) and reads
        the shared catalog root. Every Ella surface — DDL dispatch,
        queries, Lazy, topics — then travels the Connect protocol
        unchanged; no Ella-specific wire format exists, which is the
        point.

        Requires the Spark Connect client stack (``grpcio`` etc. —
        ``pip install 'pyspark[connect]'``); raises a RuntimeError
        naming the missing dependency when absent so callers can
        fall back to embedded mode.
        """
        from pyspark.errors.exceptions.base import PySparkImportError

        try:
            spark = SparkSession.builder.remote(remote_url).getOrCreate()
        except (ImportError, PySparkImportError) as e:
            raise RuntimeError(
                "Spark Connect client dependencies missing "
                "(pip install 'pyspark[connect]'): " + str(e)
            ) from e
        return cls.open_or_create(root, spark)

    @staticmethod
    def connect_available() -> bool:
        """True when the Spark Connect client stack is importable."""
        try:
            from pyspark.sql.connect.utils import check_dependencies

            check_dependencies("ella_spark.connect")
            return True
        except Exception:
            return False

    def shutdown(self) -> None:
        """Snapshot the catalog (Engine::shutdown, engine.rs:36-39)."""
        self.store.snapshot()

    # -- registration ----------------------------------------------------------

    def _register_all(self) -> None:
        """Register every catalog object, each after what its stored
        SQL reads: a topic dropped and re-created after a view over it
        comes after that view in the catalog."""
        self._register_referenced(
            " ".join(f"`{self._view_name(e)}`" for e in self.store.tables.values())
        )

    def _register_referenced(
        self, sql: str, params: dict | list | None = None
    ) -> None:
        """Re-register the catalog objects ``sql`` may reference, and
        what their stored SQL reads, transitively — each object after
        the objects it reads, so a view's plan captures fresh topic
        frames. An object is referenced when its bare name or its
        view name is one of the statement's name tokens (or a string
        parameter, for ``IDENTIFIER(:name)``): this can register too
        much, never too little. Everything else keeps the frame of its
        last registration, so a statement costs O(its footprint), not
        O(catalog).

        A topic is registered over the hull of the ``time`` windows
        ``_parse_reads`` finds for it in the statement and in every
        stored SQL visited (bucket and manifest pruning in
        ``Topic.read``), so a range query lists and opens only the
        shards its window touches; a topic any text reads unbounded, or
        a string parameter names, is registered whole.

        Every referenced name is re-pointed, but a frame is rebuilt only
        when what it reads changed: ``Topic.read`` returns the frame it
        built before while the topic's shard set is unchanged, and a
        stored view keeps its frame while its text and the frames bound
        to its inputs in this statement are the same (``_bound_frame``).
        The table argument of a table function that reads its table
        itself (``Tvf.reads_table``) registers nothing."""
        conf = conf_version(self.spark)
        done: set = set()
        order: list[TableEntry] = []
        texts: list[tuple[str, set]] = []
        #: ident -> the entries its stored SQL names
        inputs: dict[tuple, list[TableEntry]] = {}

        def visit(text: str, tokens: set) -> list[TableEntry]:
            texts.append((text, tokens))
            named = []
            for entry in list(self.store.tables.values()):
                if not (
                    {entry.name.lower(), self._view_name(entry).lower()} & tokens
                ):
                    continue
                named.append(entry)
                if entry.ident in done:
                    continue
                done.add(entry.ident)
                if self._reads_sql(entry):
                    inputs[entry.ident] = visit(entry.sql, _ref_tokens(entry.sql))
                order.append(entry)
            return named

        values = params.values() if isinstance(params, dict) else params or ()
        named = _name_tokens(" ".join(f"'{v}'" for v in values if isinstance(v, str)))
        visit(sql, _ref_tokens(sql) | named)
        topics = {
            self._view_name(e).lower(): e for e in order if e.kind == "topic"
        }
        windows = [
            (
                tokens,
                _parse_reads(self.spark, text).windows
                if topics.keys() & tokens
                else {},
            )
            for text, tokens in texts
        ] + [(named, {})]
        bound: dict[tuple, DataFrame] = {}
        for entry in order:
            view = self._view_name(entry).lower()
            if view in topics:
                found = [
                    w.get(view)
                    for tokens, w in windows
                    if {entry.name.lower(), view} & tokens
                ]
                window = (None, None) if None in found else _hull(found)
                frame = Topic(self.store, entry).read(self.spark, *window)
            else:
                frame = self._bound_frame(
                    entry, inputs.get(entry.ident, []), bound, conf
                )
            bound[entry.ident] = frame
            frame.createOrReplaceTempView(self._view_name(entry))

    def _bound_frame(
        self, entry: TableEntry, reads: list[TableEntry], bound: dict, conf: int | None
    ) -> DataFrame:
        """The frame a statement binds to a non-topic ``entry``, given
        the frames ``bound`` to the entries it ``reads`` and the
        session's ``conf`` version. A stored view (or a materialized
        view before its first refresh) reuses its last frame while its
        text, the session confs and those input frames (compared by
        identity) are unchanged, so a table-function view such as
        ``psi_drift`` over an unchanged view is not rebuilt. Such a
        view's kept frame is a lazy ``localCheckpoint`` of its result:
        the statement that builds it computes it once, and every later
        read while its inputs are unchanged scans the checkpoint blocks.
        A replaced checkpoint is never unpersisted (a statement on
        another thread may still read it); its blocks go when its frame
        is garbage-collected. A view that may read anything else (a
        relation outside the catalog, ``information_schema``, a table
        function that reads its own table) is rebuilt every time, and
        so is a view calling a table function where checkpoint blocks
        may die with an executor (a master other than local). A
        refreshed materialized view reuses its snapshot frame while its
        version, result schema, snapshot directory and the session
        confs are unchanged. External tables are rebuilt every time:
        ella does not own their files."""
        if entry.kind == "external":
            return self._frame_for(entry)
        if self._reads_sql(entry):
            # a column may share the view's own name
            reads = [e for e in reads if e.ident != entry.ident]
            names = {self._view_name(e).lower() for e in reads}
            rels = _parse_reads(self.spark, entry.sql).relations
            frames = tuple(bound.get(e.ident) for e in reads)
            called = [t for t in TVFS if t.pattern.search(entry.sql)]
            if (
                rels is None
                or not rels <= names
                or None in frames  # an input bound after it (a name cycle)
                or any(t.reads_table for t in called)
                or (called and not self._checkpoints_outlive_frames)
            ):
                return self._frame_for(entry)
            stamp = (conf, entry.sql)
        else:
            snap = self.store.table_path(entry) / f"v={entry.version}"
            try:
                st = os.stat(snap)
            except OSError:
                return self._frame_for(entry)
            stamp = (
                conf, entry.version, entry.result_schema, st.st_ino, st.st_mtime_ns
            )
            frames, called = (), []
        hit = self._frames.get(entry.ident)
        if (
            hit is not None
            and hit[0] == stamp
            and len(hit[1]) == len(frames)
            and all(map(operator.is_, hit[1], frames))
        ):
            return hit[2]
        frame = self._frame_for(entry)
        if called:
            frame = frame.localCheckpoint(eager=False)
        self._frames[entry.ident] = (stamp, frames, frame)
        return frame

    @staticmethod
    def _reads_sql(entry: TableEntry) -> bool:
        """True when ``entry`` reads through its stored SQL: a view, or
        a materialized view before its first refresh (after it, the MV
        reads its snapshot)."""
        return bool(entry.sql) and not (
            entry.kind == "materialized_view" and entry.version > 0
        )

    def _register(self, entry: TableEntry) -> None:
        """Expose a catalog table to spark.sql.

        Default-namespace tables register under their bare name
        (matching the reference's default catalog/schema resolution,
        config.rs:16-25). Non-default namespaces register as
        ``<schema>__<name>`` (Spark temp views are single-part).
        """
        self._frame_for(entry).createOrReplaceTempView(self._view_name(entry))

    def _frame_for(self, entry: TableEntry, include_hidden: bool = False) -> DataFrame:
        if entry.kind == "topic":
            return Topic(self.store, entry).read(self.spark)
        if entry.kind == "external":
            return self._external_frame(entry)
        if entry.kind == "materialized_view" and entry.version > 0:
            from pyspark.sql.types import StructType

            snap = self.store.table_path(entry) / f"v={entry.version}"
            df = self.spark.read.schema(
                StructType.fromJson(json.loads(entry.result_schema))
            ).parquet(str(snap))
            if not include_hidden:
                # avg MVs carry mergeable __mv_* state columns in the
                # snapshot files; every read projects them away
                df = df.drop(*[c for c in df.columns if c.startswith("__mv_")])
            return df
        # view, or a materialized view before its first refresh
        return self._sql(entry.sql)

    def _unregister(self, entry: TableEntry) -> None:
        self._frames.pop(entry.ident, None)
        self.spark.catalog.dropTempView(self._view_name(entry))

    @staticmethod
    def _view_name(entry: TableEntry) -> str:
        if entry.catalog == DEFAULT_CATALOG and entry.schema == DEFAULT_SCHEMA:
            return entry.name
        return f"{entry.schema}__{entry.name}"

    # -- DDL (state.rs:156-279 parity) -----------------------------------------

    def create_topic(
        self,
        name: str,
        columns: list[Column],
        *,
        temporary: bool = False,
        indexes: list[tuple[str, bool]] | None = None,
        if_not_exists: bool = False,
        replace: bool = False,
    ) -> Topic:
        """Create a topic; the time column is auto-prepended as the
        required primary index (info.rs:397-424)."""
        catalog, schema, base = self._split(name)
        existing = self.store.tables.get((catalog, schema, base))
        if existing is not None and if_not_exists and not replace:
            return Topic(self.store, existing)
        struct = topic_schema(columns)
        cols = [Column.from_struct_field(f) for f in struct.fields]
        entry = TableEntry(
            catalog=catalog,
            schema=schema,
            name=base,
            kind="topic",
            columns=cols,
            temporary=temporary,
            indexes=[("time", True)] + list(indexes or []),
        )
        if replace and existing is not None:
            self._drop_data(existing)
        self.store.put_table(entry, replace=replace)
        path = self.store.table_path(entry)
        path.mkdir(parents=True, exist_ok=True)
        self._register(entry)
        return Topic(self.store, entry)

    def create_view(self, name: str, query: "Lazy | str", replace: bool = True) -> None:
        """Store a named plan re-resolved at scan time (view.rs:23-28):
        persisted as SQL text, registered as a Spark temp view (Catalyst
        inlines it per query exactly like the reference re-plans)."""
        sql = query if isinstance(query, str) else query._sql
        if sql is None:
            # Lazy built from a DataFrame without SQL text: persist via
            # temp-view indirection is impossible across sessions, so
            # require SQL (the reference serializes LogicalPlans; our
            # durable plan format is SQL text).
            raise ValueError(
                "create_view needs SQL text; build the Lazy via Ella.query(sql)"
            )
        # the last statement may have registered a topic the view reads
        # over another window: register what it reads over its own
        self._register_referenced(sql)
        self._put_view(name, sql, replace)

    def _put_view(self, name: str, sql: str, replace: bool) -> None:
        """Store and register a view whose dependencies are registered
        over windows that cover its SQL."""
        catalog, schema, base = self._split(name)
        entry = TableEntry(
            catalog=catalog, schema=schema, name=base, kind="view", columns=[], sql=sql
        )
        self.store.put_table(entry, replace=replace)
        self._register(entry)

    def create_external_table(
        self,
        name: str,
        fmt: str,
        path: str,
        *,
        header: bool = True,
        if_not_exists: bool = False,
    ) -> TableEntry:
        """External table over files already on storage (DataFusion's
        CREATE EXTERNAL TABLE, which the reference parses but
        `todo!()`s — lazy/backend.rs:81-83). The catalog records
        (format, path, header) plus the schema INFERRED ONCE at
        registration — DataFusion's fixed-at-creation contract, and
        the only scale-sane choice: csv/json inference is a full data
        scan, so re-inferring per query would read the whole location
        twice every time. Data is read in place through the ordinary
        Spark source (predicate pushdown / partition pruning apply as
        for any scan) and is NEVER deleted by DROP TABLE. New files
        appearing under the location are picked up on the next query
        (the listing-table behavior); they must match the registered
        schema."""
        fmt = fmt.lower()
        if fmt not in ("parquet", "csv", "json"):
            raise ValueError(f"external table format {fmt!r} not supported")
        catalog, schema, base = self._split(name)
        existing = self.store.resolve(name)
        if existing is not None:
            if if_not_exists and existing.kind == "external":
                return existing
            raise ValueError(f"table {name!r} already exists")
        entry = TableEntry(
            catalog=catalog,
            schema=schema,
            name=base,
            kind="external",
            refresh_state={"format": fmt, "path": path, "header": header},
        )
        # fail fast on an unreadable location, and pin the inferred
        # schema (one inference at registration, never per query)
        entry.refresh_state["schema_json"] = self._external_frame(
            entry
        ).schema.json()
        self.store.put_table(entry)
        self._register(entry)
        return entry

    def _external_frame(self, entry: TableEntry) -> DataFrame:
        from pyspark.sql import types as T

        spec = entry.refresh_state or {}
        reader = self.spark.read.format(spec.get("format", "parquet"))
        if spec.get("format") == "csv":
            reader = reader.option(
                "header", "true" if spec.get("header", True) else "false"
            )
        if spec.get("schema_json"):
            reader = reader.schema(
                T.StructType.fromJson(json.loads(spec["schema_json"]))
            )
        elif spec.get("format") in ("csv", "json"):
            # registration-time path (and pre-pin catalog entries):
            # infer from the files — a full scan for these formats,
            # which is exactly why the result is pinned above
            reader = reader.option("inferSchema", "true")
        return reader.load(spec.get("path", ""))

    def create_materialized_view(
        self,
        name: str,
        query: "Lazy | str",
        replace: bool = True,
        indexes: list[tuple[str, bool]] | None = None,
        keep_versions: int = 1,
    ) -> int:
        """Materialized view: stored SQL + a versioned parquet snapshot,
        refreshed on demand (beyond-reference: the reference declares
        this API but `todo!()`s it, view.rs:36-39 — here it works).

        ``indexes``: declared secondary sort indexes — (column,
        ascending) pairs, the reference's MV index declaration
        (ella-engine/src/table/info.rs:200-213, which its engine can
        never apply). Here they are REAL: every snapshot write sorts
        rows by the index columns, so parquet row-group min/max stats
        prune index-keyed scans of the materialized result.

        Snapshots live under ``<table>/v=<n>``; refresh writes the next
        version distributed, then flips the catalog pointer in one
        transaction — readers see the old or the new snapshot, never a
        half-written one. Returns the snapshot row count.

        ``keep_versions`` > 1 retains that many snapshot versions for
        TIME TRAVEL: read an old one with ``read_mv_version`` or SQL
        ``SELECT … FROM mv FOR VERSION AS OF n`` (Iceberg-style).
        Retention is by version count, pruned at commit — the Delta/
        Iceberg snapshot-retention idiom; each retained version costs
        only its delta for SPF views (hardlinked files are shared).
        """
        catalog, schema, base = self._split(name)
        sql = query if isinstance(query, str) else query._sql
        if sql is None:
            raise ValueError(
                "materialized view needs SQL text; build via Ella.query(sql)"
            )
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        prev = self.store.tables.get((catalog, schema, base))
        if prev is not None and prev.kind != "materialized_view":
            # refuse to replace a non-MV entry: put_table(replace=True)
            # would silently overwrite a topic / plain view, and the
            # failure-cleanup branch would then DROP it entirely (the
            # stash/restore protection only guards MV → MV replaces)
            raise ValueError(
                f"cannot create materialized view {name!r}: an entry "
                f"of kind {prev.kind!r} already exists under that name "
                "— drop it first (REPLACE only replaces materialized "
                "views)"
            )
        if prev is not None and not replace:
            # refuse before any side effect: the failure cleanup below
            # drops the entry this call created, which here would be
            # the existing view
            raise ValueError(f"table {'.'.join(prev.ident)} already exists")
        replacing = prev is not None
        entry = TableEntry(
            catalog=catalog,
            schema=schema,
            name=base,
            kind="materialized_view",
            columns=[],
            sql=sql,
            indexes=list(indexes or []),
            keep_versions=keep_versions,
        )
        # CREATE OR REPLACE: stash the previous definition's whole
        # snapshot tree aside FIRST — the new definition's first
        # commit writes v=1 with mode(overwrite), which would destroy
        # the old v=1 dir before the new snapshot ever commits (a
        # runtime-failing refresh, e.g. raise_error or disk-full,
        # must leave the old MV fully readable). The rename sits
        # INSIDE the guarded region so even a put_table failure
        # restores it; a process crash mid-replace is recovered by
        # the stash-restore sweep below on the next replace attempt.
        stash = None
        if replacing:
            path = self.store.table_path(prev)
            if not path.exists():
                # crash recovery: a previous replace died between the
                # stash rename and its restore — put the newest
                # stashed tree back so the catalog entry's data exists
                cands = list(
                    path.parent.glob(f".{path.name}.replaced-*")
                )
                if cands:
                    newest = max(cands, key=lambda c: c.stat().st_mtime)
                    os.rename(newest, path)
        try:
            if replacing and path.exists():
                stash = path.with_name(
                    f".{path.name}.replaced-{uuid.uuid4().hex[:8]}"
                )
                os.rename(path, stash)
            self.store.put_table(entry, replace=replace)
            n = self.refresh_materialized(name)
        except Exception:
            # the new definition never committed a snapshot: put the
            # old definition (entry AND stashed data) back, or drop
            # the never-materialized entry — a failed CREATE OR
            # REPLACE must not destroy the previous MV
            if replacing:
                if stash is not None:
                    shutil.rmtree(path, ignore_errors=True)
                    os.rename(stash, path)
                self.store.put_table(prev, replace=True)
                self._register(prev)
            elif self.store.tables.get((catalog, schema, base)) is not None:
                self.store.drop_table(catalog, schema, base)
            raise
        if stash is not None:
            # the new definition committed: the old snapshots go now
            shutil.rmtree(stash, ignore_errors=True)
        return n

    def refresh_materialized(self, name: str, incremental: bool = True) -> int:
        """Refresh a materialized view and return its snapshot row count.

        Incremental when possible: for SPF / mergeable-aggregate SQL
        over one topic or an inner-join chain (ella_spark/incremental.py)
        the refresh reads ONLY the shards published since the last
        snapshot — the immutable shard basenames are the cursor — and
        appends (SPF) or partial-aggregates-and-merges (each family of
        ``incremental.FAMILIES``) into the next snapshot. O(new data),
        not O(history): at 100 TB a rollup refresh touches a day of
        shards, never the full fact table. Compaction renames shards,
        which invalidates the cursor and safely falls back to a full
        recompute, as does a topic schema change since the last
        snapshot that changes the view's columns and any SQL shape the
        analyzer does not fully understand.

        An analyzable view binds its topics to the shards it reads
        inside its own ``spark.sql`` calls (``_bound_sql``), where no
        other statement resolves or changes them; any other view reads
        the session views through ``_sql``, like a statement.
        """
        from ella_spark.incremental import analyze_mv_sql

        entry = self._require(name, "materialized_view")
        self._register_referenced(entry.sql)
        analysis = analyze_mv_sql(entry.sql)
        topics: list = []
        if analysis is not None:
            topics = [self._topic_for_view_name(t) for t in analysis.tables]
            if any(t is None for t in topics):
                # a FROM identifier that is not a topic: plain MV
                analysis, topics = None, []
        state = entry.refresh_state
        if (
            incremental
            and topics
            and entry.version > 0
            and state is not None
            and all(
                state.get(_state_key("topic", i)) == t
                for i, t in enumerate(analysis.tables)
            )
        ):
            n = self._refresh_delta(entry, analysis, topics)
            if n is not None:
                return n
        return self._refresh_full(entry, analysis, topics)

    def _topic_for_view_name(self, ident: str) -> "Topic | None":
        """Resolve a registered view name back to its topic, if any."""
        if "__" in ident:
            schema, base = ident.split("__", 1)
            key = (DEFAULT_CATALOG, schema, base)
        else:
            key = (DEFAULT_CATALOG, DEFAULT_SCHEMA, ident)
        entry = self.store.tables.get(key)
        if entry is not None and entry.kind == "topic":
            return Topic(self.store, entry)
        return None

    def _commit_snapshot(
        self, entry: TableEntry, df: DataFrame, state, append_to: int | None = None
    ) -> int:
        """Write df as the next snapshot version, flip the catalog
        pointer atomically, prune old versions. Returns row count.

        ``append_to`` (the current row count) makes it the O(delta) SPF
        commit: the current version's files are hardlinked into v=N+1
        (metadata-only on one filesystem; an object store would
        server-side-copy), df is appended there and the recorded result
        schema is kept. A crash before the flip leaves an orphan dir
        that the next commit clears — never a half-visible snapshot and
        never a double-applied delta."""
        import dataclasses

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        new_version = entry.version + 1
        snap = self.store.table_path(entry) / f"v={new_version}"
        if append_to is None:
            schema = df.schema.json()
        else:
            if snap.exists():  # uncommitted orphan from a crash
                shutil.rmtree(snap)
            snap.mkdir(parents=True)
            old_snap = self.store.table_path(entry) / f"v={entry.version}"
            for f in old_snap.glob("*.parquet"):
                try:
                    os.link(f, snap / f.name)
                except OSError:
                    shutil.copy2(f, snap / f.name)
            schema = entry.result_schema
        df = self._apply_mv_indexes(entry, df)
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite" if append_to is None else "append")
            .parquet(str(snap))
        )
        n = (append_to or 0) + int(obs.get["n"])
        if state is not None:
            state = dict(state, rows=n)
        updated = dataclasses.replace(
            entry,
            version=new_version,
            result_schema=schema,
            refresh_state=state,
            version_log=_trim_log(entry, new_version),
        )
        self.store.put_table(updated, replace=True)
        self._register(updated)
        self._prune_versions(entry, new_version)
        return n

    def read_mv_version(self, name: str, version: int) -> DataFrame:
        """Time-travel read of a retained materialized-view snapshot
        (``keep_versions`` > 1). The current version reads through the
        stored-schema fast path; older versions read their own files
        (schemas may differ across versions after a definition
        change). Hidden ``__mv_*`` avg state never surfaces."""
        entry = self._require(name, "materialized_view")
        if version == entry.version:
            return self._frame_for(entry)
        snap = self.store.table_path(entry) / f"v={version}"
        # the committed-version bound also refuses a v=N+1 dir a
        # crashed refresh left behind before its catalog flip — only
        # versions the catalog ever committed are readable
        if version < 1 or version > entry.version or not snap.is_dir():
            have = sorted(
                v
                for p in self.store.table_path(entry).glob("v=*")
                if p.is_dir() and (v := int(p.name.split("=")[1])) <= entry.version
            )
            raise ValueError(
                f"{name} has no committed snapshot v={version}; retained: "
                f"{have} (keep_versions={entry.keep_versions})"
            )
        df = self.spark.read.parquet(str(snap))
        return df.drop(*[c for c in df.columns if c.startswith("__mv_")])

    def resolve_mv_version_asof(self, name: str, ts_ns: int) -> int:
        """Newest committed version at-or-before ``ts_ns`` (from the
        MV's retained commit log); clear error when the bound predates
        every retained commit."""
        entry = self._require(name, "materialized_view")
        eligible = [v for v, t in entry.version_log if t <= ts_ns]
        if not eligible:
            have = [
                (v, t) for v, t in entry.version_log
            ]
            raise ValueError(
                f"{name} has no snapshot committed at or before "
                f"epoch-ns {ts_ns}; retained commits: {have}"
            )
        return max(eligible)

    def read_mv_asof(self, name: str, ts_ns: int) -> DataFrame:
        """Time-travel read by commit timestamp (epoch ns)."""
        return self.read_mv_version(
            name, self.resolve_mv_version_asof(name, ts_ns)
        )

    def _version_asof(self, m: re.Match) -> int:
        """The MV version a `FOR VERSION|TIMESTAMP AS OF` match reads."""
        ident, bound = m.groups()
        if m.re is _VERSION_ASOF_RE:
            return int(bound)
        if bound.startswith("'"):
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(bound.strip("'"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            # integer epoch-ns: float timestamp()*1e9 rounds above
            # 2^53 and could land a few hundred ns off the bound
            delta = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
            ts_ns = (
                (delta.days * 86_400 + delta.seconds) * 10**9
                + delta.microseconds * 1_000
            )
        else:
            ts_ns = int(bound)
        return self.resolve_mv_version_asof(ident, ts_ns)

    def _prune_versions(self, entry: TableEntry, new_version: int) -> None:
        """Drop snapshot dirs older than the retention window
        (``keep_versions`` newest survive — time-travel reads)."""
        cutoff = new_version - max(entry.keep_versions, 1) + 1
        for old in self.store.table_path(entry).glob("v=*"):
            if old.is_dir() and int(old.name.split("=")[1]) < cutoff:
                shutil.rmtree(old, ignore_errors=True)

    @staticmethod
    def _apply_mv_indexes(entry: TableEntry, df: DataFrame) -> DataFrame:
        """Sort snapshot rows by the declared MV indexes (info.rs
        sorting_cols semantics) so row-group stats prune reads."""
        if not entry.indexes:
            return df
        from pyspark.sql import functions as F

        cols = [
            F.col(c).asc() if asc else F.col(c).desc()
            for c, asc in entry.indexes
        ]
        return df.sortWithinPartitions(*cols)

    def _refresh_full(
        self, entry: TableEntry, analysis, topics: list, _retries: int = 2
    ) -> int:
        """Full recompute. An analyzable n-topic view binds its topics
        to EXPLICIT shard listings (``_bound_sql``) so the recorded
        cursors equal the snapshot's exact inputs (rows published
        between listing and compute are picked up next refresh, never
        double-counted). If a concurrent compactor unlinked listed
        shards MID-JOB, ignoreMissingFiles would have silently dropped
        their rows — detected by re-listing after the commit and
        repaired by re-running against the post-compaction listing."""
        sql, state = self._sql, None
        if analysis is not None and topics:
            listings = [t.shards() for t in topics]
            state = _cursor_state(analysis.tables, listings)
            frames = [t.read_files(self.spark, p) for t, p in zip(topics, listings)]
            sql = partial(self._bound_sql, names=analysis.tables, frames=frames)
        if state is not None and analysis.hidden_sql:
            try:
                df = self._with_visible(entry.sql, analysis, sql)
            except AnalysisException:
                # the hidden rewrite can be unsupported for the actual
                # argument types (e.g. hll_sketch_agg rejects double
                # where approx_count_distinct accepts it) — an
                # ANALYSIS-time error, so fall back to the PLAIN query
                # as a full-recompute-only MV instead of failing CREATE.
                # Runtime errors (transient executor/IO failures)
                # propagate: a retry must keep the incremental state.
                df = sql(entry.sql)
                state = None
                analysis = None
        else:
            df = sql(entry.sql)
        self._check_reserved_aliases(df, analysis)
        n = self._commit_snapshot(entry, df, state)
        if state is not None and _retries > 0:
            stale = any(
                not set(state[_state_key("shards", i)]).issubset(
                    p.name for p in t.shards()
                )
                for i, t in enumerate(topics)
            )
            if stale:
                fresh = self.store.tables[entry.ident]
                return self._refresh_full(fresh, analysis, topics, _retries - 1)
        return n

    def _bound_sql(self, sql: str, names: list[str], frames: list) -> DataFrame:
        """``spark.sql`` over ``sql`` with each of ``names`` bound to its
        frame by a CTE, which takes precedence over a session view of
        that name; ``spark.sql`` views a DataFrame argument for the
        length of the call only, so no other statement sees the frames."""
        ctes = ", ".join(
            f"`{n}` AS (SELECT * FROM {{b{i}}})" for i, n in enumerate(names)
        )
        return self.spark.sql(
            f"WITH {ctes} {_splice_spans(sql, [])}",
            **{f"b{i}": f for i, f in enumerate(frames)},
        )

    @staticmethod
    def _check_reserved_aliases(df: DataFrame, analysis) -> None:
        """Refuse USER output columns in the hidden __mv_* namespace —
        they would be silently projected away by every read. Checked
        against the actual output schema (catches `AS __mv_x` and the
        no-AS alias form alike; a regex over the SQL text would also
        false-positive on string literals)."""
        legit = set(analysis.hidden_cols) if analysis is not None else set()
        bad = [
            c
            for c in df.columns
            if c.startswith("__mv_") and c not in legit
        ]
        if bad:
            raise ValueError(
                f"materialized-view output columns {bad} use the "
                "reserved '__mv_' namespace (hidden refresh state) — "
                "rename them"
            )

    def _attach_side_state(self, df: DataFrame, analysis, sql: Callable) -> DataFrame:
        """Join the hidden state that families build by a side query
        (KLL sketches, mode count-maps — incremental.FAMILIES) onto
        the hidden-partials frame. Each side query replays the SAME
        FROM/WHERE binding the hidden SQL used, through the same
        ``sql``, selecting the group keys next to the family's items."""
        import functools

        from pyspark.sql import functions as F

        def query(extra: list[str]) -> DataFrame:
            sel = ", ".join(analysis.key_items + extra)
            q = f"SELECT {sel} FROM {analysis.from_text}"
            return sql(q + (f" WHERE {analysis.where}" if analysis.where else ""))

        keys = analysis.keys
        # RENAME the state keys before joining: df and the state both
        # descend from the same base relation (both are spark.sql over
        # the same topic frames), so df[k] and state[k] can resolve to
        # the SAME attribute and the equality folds to trivially-true
        # (observed: a cross-join-shaped result)
        ren = {kk: f"__mv_sidek_{kk}" for kk in keys}
        for fam, items in analysis.by_family():
            if fam.side is None:
                continue
            for state in fam.side(query, keys, items):
                if not keys:
                    # LEFT join on true, not crossJoin: an empty source
                    # leaves the state frame empty, and a crossJoin
                    # would wipe the global aggregate's single row
                    df = df.join(F.broadcast(state), F.lit(True), "left")
                    continue
                # NULL-SAFE key join: a NULL group key is a real group
                # in the hidden partials and must match its state row
                cond = functools.reduce(
                    lambda a, b: a & b,
                    [df[kk].eqNullSafe(F.col(rn)) for kk, rn in ren.items()],
                )
                df = df.join(
                    state.withColumnsRenamed(ren), cond, "left"
                ).drop(*ren.values())
        return df

    def _with_visible(self, orig_sql: str, analysis, sql: Callable) -> DataFrame:
        """Run the hidden-partials SQL through ``sql``, attach side-query
        state and derive the visible columns, each cast to the dtype the
        ORIGINAL SQL would produce — the snapshot then carries visible
        cols in select order followed by the mergeable hidden state."""
        orig_fields = {f.name: f.dataType for f in sql(orig_sql).schema}
        df = self._attach_side_state(sql(analysis.hidden_sql), analysis, sql)
        return self._derive_visible(df, analysis, orig_fields)

    @staticmethod
    def _derive_visible(df: DataFrame, analysis, dtypes) -> DataFrame:
        """The out_cols in select order — each derived one from its
        family's hidden state, cast to ``dtypes`` — followed by the
        hidden columns in snapshot order."""
        return df.withColumns(
            {
                it.alias: it.family.visible(it, dtypes[it.alias])
                for it in analysis.derived
            }
        ).select(*analysis.out_cols, *analysis.hidden_cols)

    def _merge_agg_snapshot(
        self, entry: TableEntry, analysis, delta_df: DataFrame, new_state: dict
    ) -> int:
        """Re-aggregate snapshot ∪ delta partials into the next
        snapshot version: each aggregate by its family's merge
        (incremental.FAMILIES), then the derived visible columns
        recomputed from the merged hidden state; distinct-keys via
        dropDuplicates."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        old = self._frame_for(entry, include_hidden=True)
        derived = [it.alias for it in analysis.derived]
        if derived:
            # the snapshot's derived visible columns are not mergeable
            # state — drop them before unioning with the delta partials
            # (which carry only the hidden state)
            old = old.drop(*derived)
        union = old.unionByName(delta_df)
        schema = StructType.fromJson(json.loads(entry.result_schema))
        dtypes = {f.name: f.dataType for f in schema.fields}
        if analysis.items:
            # each family merges its own state (incremental.FAMILIES):
            # aggregates over the union, then post-aggregation steps
            aggs, post = [], []
            for it in analysis.items:
                a, p = it.family.merge(it)
                aggs += a
                post += p
            merged = union.groupBy(*analysis.keys).agg(*aggs)
            for c, expr in post:
                merged = merged.withColumn(c, expr)
            if derived:
                merged = self._derive_visible(merged, analysis, dtypes)
        else:
            merged = union.dropDuplicates(analysis.keys)
        # restore select order and snapshot dtypes (SUM over decimal
        # widens precision; the snapshot schema is the contract).
        # Nullability is RELAXED before casting: the recorded schema
        # captures collect_set's containsNull=false, but a merged set
        # column comes back containsNull=true after the union/flatten
        # round-trip, and Spark refuses the true->false array cast —
        # which silently downgraded every refresh of such an MV to a
        # full recompute (caught by a r11 mv_stress run: trial st13,
        # seed 54703125). Value types stay exact; parquet stores the
        # relaxed form identically.
        merged = merged.select(
            [
                F.col(f.name).cast(_relax_nullability(f.dataType)).alias(f.name)
                for f in schema.fields
            ]
        )
        return self._commit_snapshot(entry, merged, new_state)

    def _refresh_delta(
        self, entry: TableEntry, analysis, topics: list
    ) -> int | None:
        """Insert-only delta maintenance of one topic or an inner-join
        chain via the leapfrog identity: Δ(T1 ⋈ … ⋈ Tn) = ⋃ᵢ old₁ ⋈ … ⋈
        oldᵢ₋₁ ⋈ Δᵢ ⋈ curᵢ₊₁ ⋈ … ⋈ curₙ (ΔT for one topic) — an exact
        partition of the new result rows (each new row is claimed by the
        FIRST position holding one of its delta inputs), so the refresh
        never joins history against history on all sides at once; each
        term binds its frames in its own calls (``_bound_sql``). SPF rows
        append to the snapshot; aggregate partials merge with it. None →
        full recompute."""
        from pyspark.sql.types import StructType

        state = entry.refresh_state
        cur, deltas, olds = [], [], []
        for i, t in enumerate(topics):
            shards = t.shards()
            names = {p.name for p in shards}
            cons = set(state.get(_state_key("shards", i), []))
            if not cons.issubset(names):
                return None  # compaction/retention rewrote consumed shards
            cur.append(shards)
            deltas.append([p for p in shards if p.name not in cons])
            olds.append([p for p in shards if p.name in cons])
        if not any(deltas):
            return int(state["rows"])

        new_state = _cursor_state(analysis.tables, cur)
        terms = []
        for i in range(len(topics)):
            if not deltas[i]:
                continue
            # positions before i: OLD only; i: its delta; after i: the
            # full current listing (old + delta)
            parts = olds[:i] + [deltas[i]] + cur[i + 1 :]
            frames = [t.read_files(self.spark, p) for t, p in zip(topics, parts)]
            sql = partial(self._bound_sql, names=analysis.tables, frames=frames)
            df = sql(analysis.hidden_sql or entry.sql)
            terms.append(self._attach_side_state(df, analysis, sql))
        delta_df = terms[0]
        for t_df in terms[1:]:
            delta_df = delta_df.unionByName(t_df)
        if analysis.mode in ("agg", "agg_join"):
            # the delta terms arrive ALREADY partially aggregated by
            # the SQL: merge with the snapshot. A snapshot written by an
            # OLDER hidden-state layout (e.g. pre-Welford raw sums)
            # fails the unionByName at analysis time — fall back to a
            # full recompute, which rewrites the state in the new layout.
            try:
                return self._merge_agg_snapshot(entry, analysis, delta_df, new_state)
            except AnalysisException:
                return None
        # structural guard behind the regex analyzer: an aggregate the
        # blacklist does not know must NEVER be treated as append-only —
        # a partial per-delta result would silently corrupt the
        # snapshot. The analyzed plan is ground truth; when it is not
        # inspectable (Spark Connect has no _jdf), fail CLOSED to a full
        # recompute rather than trust the regex alone.
        try:
            plan = _jdf_qe(delta_df).analyzed().toString()
        except Exception:
            return None
        if "Aggregate" in plan:
            return None
        # a topic schema change since the last snapshot (ALTER TABLE
        # ADD/DROP COLUMN): the append keeps the recorded columns, so
        # only a full recompute reads the new ones
        recorded = StructType.fromJson(json.loads(entry.result_schema))
        if _relax_nullability(delta_df.schema) != _relax_nullability(recorded):
            return None
        return self._commit_snapshot(
            entry, delta_df, new_state, append_to=int(state["rows"])
        )

    def drop_table(self, name: str) -> None:
        catalog, schema, base = self._split(name)
        entry = self.store.tables.get((catalog, schema, base))
        if entry is None:
            raise ValueError(f"table {name!r} does not exist")
        self.store.drop_table(catalog, schema, base)
        self._unregister(entry)
        self._drop_data(entry)

    def _drop_data(self, entry: TableEntry) -> None:
        if entry.kind in ("topic", "materialized_view"):
            path = self.store.table_path(entry)
            if path.exists():
                shutil.rmtree(path)

    @staticmethod
    def _split_schema(name: str) -> tuple[str, str]:
        """``[catalog.]schema`` -> (catalog, schema)."""
        parts = name.split(".")
        if len(parts) == 1:
            return DEFAULT_CATALOG, parts[0]
        if len(parts) == 2:
            return parts[0], parts[1]
        raise ValueError(f"invalid schema name {name!r}")

    def create_schema(self, name: str, if_not_exists: bool = False) -> None:
        catalog, schema = self._split_schema(name)
        self.store.create_schema(
            schema, catalog=catalog, if_not_exists=if_not_exists
        )

    def drop_schema(
        self, name: str, *, cascade: bool = False, if_exists: bool = False
    ) -> None:
        """Drop a schema (LocalBackend DropSchema parity,
        lazy/backend.rs:104-128). Without CASCADE a non-empty schema is
        an error; with CASCADE its tables are unregistered and their
        data removed first."""
        catalog, schema = self._split_schema(name)
        if (catalog, schema) not in self.store.schemas:
            if if_exists:
                return
            raise ValueError(f"schema {catalog}.{schema} does not exist")
        members = [
            e
            for e in self.store.tables.values()
            if (e.catalog, e.schema) == (catalog, schema)
        ]
        if members and not cascade:
            raise ValueError(
                f"schema {catalog}.{schema} is not empty "
                f"({len(members)} tables); use DROP SCHEMA ... CASCADE"
            )
        for e in members:
            self._unregister(e)
            self._drop_data(e)
        self.store.drop_schema(schema, catalog)

    def create_catalog(self, name: str, if_not_exists: bool = False) -> None:
        self.store.create_catalog(name, if_not_exists=if_not_exists)

    def drop_catalog(
        self, name: str, *, cascade: bool = False, if_exists: bool = False
    ) -> None:
        """Drop a catalog; CASCADE removes its schemas and tables
        (incl. data). Mirrors the schema-drop contract one level up."""
        if name not in self.store.catalogs:
            if if_exists:
                return
            raise ValueError(f"catalog {name!r} does not exist")
        members = [e for e in self.store.tables.values() if e.catalog == name]
        schemas = [s for s in self.store.schemas if s[0] == name]
        if (members or schemas) and not cascade:
            raise ValueError(
                f"catalog {name!r} is not empty ({len(schemas)} schemas, "
                f"{len(members)} tables); use DROP CATALOG ... CASCADE"
            )
        for e in members:
            self._unregister(e)
            self._drop_data(e)
        self.store.drop_catalog(name)

    # -- access ------------------------------------------------------------------

    def topic(self, name: str) -> Topic:
        entry = self._require(name, "topic")
        return Topic(self.store, entry)

    def publish(self, name: str, capacity: int = 1024) -> Publisher:
        return self.topic(name).publish(capacity)

    def tables(self) -> list[str]:
        return sorted(".".join(e.ident) for e in self.store.tables.values())

    # -- query (state.rs:151-154) ---------------------------------------------

    def query(self, sql: str, params: dict | list | None = None) -> Lazy:
        """Parse + plan, deferred: `ella.query(sql)` → Lazy.

        Each statement is classified once, by the first entry of the
        statement table ``_STATEMENTS`` whose pattern it matches
        (README.md "SQL statements" lists them); anything else is a
        read that Spark runs. One path serves every entry: substitute
        ``now()``, refuse ``params`` for a verb that takes none (before
        any catalog or Spark side effect), register what a verb that
        reads names, then run it.

        ``params`` binds named (``:name`` with a dict) or positional
        (``?`` with a list) markers via Spark's parameterized SQL —
        the Flight SQL prepared-statement analog, with literals kept
        out of the query text (no injection, stable plan cache keys).
        Reads, the source query of ``INSERT INTO`` and the query of
        ``EXPLAIN`` take parameters; every other verb raises.

        The catalog objects the statement references are re-registered
        first, with the topics and views their stored SQL reads: Spark's
        parquet file index is frozen per DataFrame, so shards published
        since registration would otherwise be invisible (the reference's
        TopicExec re-lists shards per scan, topic.rs:165-203 — same
        semantics). A topic is registered over the ``time`` window the
        statement needs (every reading scan filtered on literal ``time``
        bounds; otherwise the whole topic), so only the shards that
        window touches are listed and opened. The shard set is
        re-checked for every statement and nothing is rebuilt unless it
        changed: a topic reuses its frame while its shards, manifest,
        columns and the session confs are unchanged (``Topic.read``),
        and a stored view while its text, the session confs and its
        inputs' frames are (``_bound_frame``).
        Every referenced name is still re-pointed. Nothing else is
        touched, so a direct ``spark.sql``/``spark.table`` on a catalog
        name sees what that name's last registration covered: for a
        topic, only the window of the last statement that referenced it.

        Every read runs through ``_sql``: Spark gets the text with each
        ``information_schema`` name, table-function call and time-travel
        read passed as a DataFrame argument (``_rewrite_reads``), so no
        read leaves a view in the session catalog. The returned Lazy
        keeps the text as written: a view or MV created from the Lazy,
        like one created by ``CREATE VIEW``, stores the durable text.

        ``now()`` is substituted once per statement with the current
        epoch-ns, so ``WHERE time < now()`` is the reference's bounded
        history cut (README.md:96-105). SQL queries always read the
        history tier; the live tail is ``scan(mode="live"/"auto")`` or
        ``subscribe()`` (Spark separates batch and streaming plans —
        SURVEY §1.4.3).
        """
        sql = _NOW_RE.sub(str(time.time_ns()), sql)
        for verb in self._STATEMENTS:
            if m := verb.regex.match(sql):
                break
        if params is not None and not verb.params:
            raise ValueError("params apply to relational statements, not DDL")
        if verb.reads:
            self._register_referenced(sql, params)
        out = verb.run(self, m, params) if verb.params else verb.run(self, m)
        if verb.result == _OK:
            out = local_frame(self.spark, [], _OK)
        elif verb.result is not None:
            rows = out if isinstance(out, list) else [(out,)]
            out = local_frame(self.spark, rows, verb.result)
        return Lazy(out, engine=self, sql=sql)

    def _sql(self, sql: str, params: dict | list | None = None) -> DataFrame:
        """Run a read: ``spark.sql`` over ``sql`` as ``_rewrite_reads``
        splits it, with ``params`` bound to its parameter markers."""
        text, frames = self._rewrite_reads(sql)
        return self.spark.sql(text, args=params, **frames)

    def _rewrite_reads(self, sql: str) -> tuple[str, dict[str, DataFrame]]:
        """The text and DataFrame arguments ``spark.sql`` runs for a
        read. Each ``information_schema`` name, table-function call and
        time-travel read of a materialized view becomes a ``{name}``
        placeholder for its frame. ``spark.sql`` gives each frame a temp
        view for the length of the call (Spark Connect inlines it), so
        no read leaves a name in the session catalog. With no frame the
        text is ``sql`` itself; with frames every other brace is
        doubled (``_splice_spans``). Stored view/MV SQL keeps the
        durable text and is rewritten at every read.

        One left-to-right scan finds the spans, the earliest match at
        each position winning, and skips string literals and comments
        whole: a literal spelling a call or `mv FOR TIMESTAMP AS OF 123`
        starts at its quote, before the name, while a real `mv FOR
        TIMESTAMP AS OF '<iso>'` starts at the name, before its quoted
        bound. The frames are built ``information_schema`` first, then
        the table functions in table order, then time travel, so the
        first function's error wins whatever the text order."""
        tvfs = {t.pattern: t for t in TVFS}
        rules = (
            _SQL_VERBATIM_RE, _INFO_SCHEMA_RE, *tvfs, _TIMESTAMP_ASOF_RE, _VERSION_ASOF_RE
        )
        #: (build rank, match, placeholder label), in text order
        found: list[tuple[int, re.Match, str]] = []
        nxt = [rx.search(sql) for rx in rules]
        while any(nxt):
            _, rank, m = min((m.start(), i, m) for i, m in enumerate(nxt) if m)
            if m.re in tvfs:
                found.append((rank, m, tvfs[m.re].name))
            elif m.re is _INFO_SCHEMA_RE:
                found.append((rank, m, f"information_schema_{m[1].lower()}"))
            elif m.re is not _SQL_VERBATIM_RE:
                entry = self.store.tables.get(self._split(m[1]))
                # anything but a materialized view is left for Spark
                if entry is not None and entry.kind == "materialized_view":
                    found.append((len(rules), m, m[1].replace(".", "_")))
            nxt = [
                n if n is None or n.start() >= m.end() else rx.search(sql, m.end())
                for rx, n in zip(rules, nxt)
            ]
        names = [f"{label}_{k}" for k, (_, _, label) in enumerate(found)]
        frames = {}
        for k in sorted(range(len(found)), key=lambda k: found[k][0]):
            m = found[k][1]
            frames[names[k]] = self._read_frame(m, tvfs.get(m.re))
        if not frames:
            return sql, frames
        spans = [(m.start(), m.end(), n) for (_, m, _), n in zip(found, names)]
        return _splice_spans(sql, spans), frames

    def _read_frame(self, m: re.Match, tvf: Tvf | None) -> DataFrame:
        """The frame of one ``_rewrite_reads`` span: the call of ``tvf``,
        an ``information_schema`` table or a materialized-view version."""
        if m.re is _INFO_SCHEMA_RE:
            return self._information_schema(m[1].lower())
        if tvf is None:
            return self.read_mv_version(m[1], self._version_asof(m))
        table, *args = m.groups()
        if tvf.reads_table:
            return tvf.op(self, table, *tvf.bind(*args))
        entry = self.store.resolve(table)
        if entry is None:
            raise ValueError(f"{tvf.name}: unknown table {table!r}")
        args = tvf.bind(*args)
        return tvf.op(self._frame_for(entry), *args)

    def _information_schema(self, table: str) -> DataFrame:
        """information_schema.tables or .columns over the catalog store.

        The reference builds its SessionState with
        ``with_information_schema(true)`` (ella-engine/src/engine/
        state.rs:115-133), so ``SELECT * FROM information_schema.tables``
        works out of the box there. Spark has no information_schema;
        the ANSI-shaped frame is built from the catalog store at query
        time (tiny — catalog metadata, never data).
        """
        entries = sorted(self.store.tables.values(), key=lambda e: e.ident)
        key = "table_catalog string, table_schema string, table_name string, "
        if table == "tables":
            kind_to_type = {"topic": "BASE TABLE", "external": "BASE TABLE",
                            "view": "VIEW",
                            "materialized_view": "VIEW"}
            rows = [
                (e.catalog, e.schema, e.name, kind_to_type.get(e.kind, e.kind.upper()))
                for e in entries
            ]
            return local_frame(self.spark, rows, key + "table_type string")
        rows = [
            (e.catalog, e.schema, e.name, c.name, i + 1,
             "NO" if c.required else "YES", c.dtype)
            for e in entries
            for i, c in enumerate(e.columns)
        ]
        return local_frame(
            self.spark,
            rows,
            key + "column_name string, ordinal_position int, "
            "is_nullable string, data_type string",
        )

    # -- SQL statements (LocalBackend::stream parity, lazy/backend.rs:66-161) --

    def _set(self, m: re.Match) -> None:
        """DataFusion `SET <key> = <value>` / `SET <key> TO <value>` (a
        Statement plan, which the reference `unimplemented!()`s —
        backend.rs:163), routed to the Spark session conf: runtime-
        settable SQL confs apply immediately; static/core confs raise
        Spark's own CANNOT_MODIFY_CONFIG error, surfaced as-is."""
        # Unwrap exactly ONE matching pair of quotes: .strip("'\"")
        # would eat any RUN of quote chars from both ends, mangling
        # values that legitimately start/end with a quote.
        value = m[2].strip()
        if len(value) >= 2 and value[0] == value[-1] and value[0] in "'\"":
            value = value[1:-1]
        self.spark.conf.set(m[1], value)

    def _create_topic_as(self, m: re.Match) -> int:
        """`CREATE TOPIC <t> AS SELECT ...` — CTAS into a topic: schema
        derives from the SELECT (which must produce the epoch-ns `time`
        column) and the rows flow through the distributed INSERT sink in
        the same statement. Beyond-reference SQL-surface convenience."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if m[1] and (existing := self.store.resolve(m[2])) is not None:
            # IF NOT EXISTS on a pre-existing TOPIC is a no-op
            # (Spark/Postgres CTAS semantics): re-running the
            # statement must not append a second copy of the data.
            # A same-named view/MV/external is a KIND conflict and
            # raises, exactly as plain create_topic would — the
            # no-op must not silently mask it.
            if existing.kind != "topic":
                raise ValueError(
                    f"cannot CREATE TOPIC {m[2]!r}: a "
                    f"{existing.kind} with that name already exists"
                )
            return 0
        df = self._sql(m[3].strip())
        if TIME_COLUMN not in df.columns:
            raise ValueError(
                "CREATE TOPIC ... AS SELECT requires the SELECT to "
                f"produce an epoch-ns '{TIME_COLUMN}' column "
                "(topics are time-indexed; add e.g. "
                "`unix_micros(now()) * 1000 AS time`)"
            )
        time_type = df.schema[TIME_COLUMN].dataType
        if isinstance(time_type, (T.TimestampType, T.TimestampNTZType)):
            # cast(timestamp AS long) yields epoch SECONDS; topics
            # index epoch NANOSECONDS — convert explicitly so rows
            # land in the right day buckets. TIMESTAMP_NTZ (what a
            # raw-parquet external table surfaces) first casts to
            # TIMESTAMP: the session tz is pinned UTC by
            # configure(), so the wall time IS the instant.
            df = df.withColumn(
                TIME_COLUMN,
                F.unix_micros(F.col(TIME_COLUMN).cast("timestamp"))
                * F.lit(1000),
            )
        elif isinstance(
            time_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            df = df.withColumn(TIME_COLUMN, F.col(TIME_COLUMN).cast("long"))
        else:
            raise ValueError(
                f"CTAS '{TIME_COLUMN}' column must be integral epoch-ns "
                f"or TIMESTAMP, got {time_type.simpleString()}"
            )
        cols = [
            Column.from_struct_field(f)
            for f in df.schema.fields
            if f.name != TIME_COLUMN
        ]
        t = self.create_topic(m[2], cols, if_not_exists=bool(m[1]))
        n = t.insert(df)
        self._register(t.entry)
        return n

    def _copy(self, m: re.Match) -> int:
        """`COPY (<query>) TO '<path>' [(FORMAT PARQUET|CSV)]` —
        query-result export through Spark's distributed writers (the
        DuckDB/Postgres COPY idiom; default parquet)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        # Count rows with an Observation attached to the write job
        # itself (the Topic.insert pattern): one job total, and no
        # re-read miscounts (CSV re-reads without schema/multiLine
        # can split on quoted newlines).
        obs = Observation("copy_to_count")
        out = self.query(m["q"].strip()).df.observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        writer = out.write.mode("errorifexists")
        if (m["fmt"] or "parquet").lower() == "csv":
            writer.option("header", "true").csv(m["path"])
        else:
            writer.parquet(m["path"])
        return obs.get["n"]

    def _alter(self, m: re.Match) -> None:
        """`ALTER TABLE <t> ADD COLUMN <name> <type> | DROP COLUMN
        <name>` — topic schema evolution (beyond-reference: the
        reference has no ALTER; at 100 TB adding a column must not
        rewrite history, which explicit-schema reads give for free)."""
        topic = self.topic(m[1])
        if m[2]:
            typ = m[3].lower()
            topic.add_column(Column(m[2], _SQL_DTYPES.get(typ, typ)))
        else:
            topic.drop_column(m[4])
        self._register(topic.entry)

    def _drop(self, m: re.Match) -> None:
        try:
            self.drop_table(m[2])
        except ValueError:
            if not m[1]:  # no IF EXISTS → propagate
                raise

    def _vacuum(self, m: re.Match) -> str:
        """`VACUUM [<topic>]` — one maintenance pass (compact + manifest
        + orphan cleanup; all topics without a name): the Postgres/
        DuckDB housekeeping verb mapped onto ella_spark.maintenance."""
        from ella_spark.maintenance import Maintainer, build_manifest, compact_topic

        if m[1]:
            t = self.topic(m[1])
            out = compact_topic(t)
            n = build_manifest(t)
            report = {
                "compacted": [str(out)] if out is not None else [],
                "manifest_entries": n,
            }
        else:
            report = Maintainer(self).run_once(refresh_views=False)
            report.pop("refreshed", None)
        return json.dumps(report)

    def _analyze(self, m: re.Match) -> int:
        """`ANALYZE <topic> [(col, ...)]` — (re)build the shard-stats
        manifest, with optional Bloom columns."""
        from ella_spark.maintenance import build_manifest

        t = self.topic(m[1])
        if m[2]:
            cols = [c.strip() for c in m[2].split(",") if c.strip()]
        else:
            # no explicit columns: declared secondary indexes opt
            # in, matching the Maintainer's auto-bloom rule
            cols = [c for c, _asc in t.entry.indexes if c != TIME_COLUMN] or None
        return build_manifest(t, bloom_cols=cols)

    def _show_create(self, m: re.Match) -> str:
        entry = self.store.resolve(m[1])
        if entry is None:
            raise ValueError(f"unknown table {m[1]!r}")
        if entry.kind == "topic":
            cols = ", ".join(
                f"{c.name} {c.dtype}" + (" NOT NULL" if c.required else "")
                for c in entry.columns
            )
            return f"CREATE TOPIC {entry.name} ({cols})"
        if entry.kind == "materialized_view":
            return f"CREATE MATERIALIZED VIEW {entry.name} AS {entry.sql}"
        if entry.kind == "external":
            spec = entry.refresh_state or {}
            hdr = (
                " WITH HEADER ROW"
                if spec.get("format") == "csv" and spec.get("header", True)
                else ""
            )
            return (
                f"CREATE EXTERNAL TABLE {entry.name} STORED AS "
                f"{spec.get('format', 'parquet').upper()}{hdr} "
                f"LOCATION '{spec.get('path', '')}'"
            )
        return f"CREATE VIEW {entry.name} AS {entry.sql}"

    def _explain(self, m: re.Match, params) -> list:
        """DataFusion-shaped EXPLAIN output: (plan_type, plan) rows (the
        reference inherits `EXPLAIN [ANALYZE] <query>` from DataFusion's
        SessionState). ANALYZE executes the query first so the reported
        physical plan is the AQE-final one."""
        df = self._sql(m[2], params)
        try:
            qe = _jdf_qe(df)
            logical = qe.optimizedPlan().toString()
            physical = qe.executedPlan().toString()
        except Exception:
            # Connect sessions have no _jdf: capture explain text
            import contextlib as _ctx
            import io as _io

            buf = _io.StringIO()
            with _ctx.redirect_stdout(buf):
                df.explain("extended")
            logical = physical = buf.getvalue()
        rows = [("logical_plan", logical)]
        if m[1]:
            # DataFusion's ANALYZE annotates the executed plan with
            # runtime metrics ("Plan with Metrics"); surface Spark's
            # per-operator SQLMetrics the same way. The plan must be
            # executed through THIS QueryExecution instance —
            # df.count() builds a different plan whose run leaves
            # these metrics zero — so drive qe.toRdd().count(): a
            # distributed row count, nothing collected to the
            # driver beyond the scalar.
            try:
                qe = _jdf_qe(df)
                n = qe.toRdd().count()
                rows.append(("row_count", str(n)))
                rows.append(
                    ("plan_with_metrics", _plan_with_metrics(qe.executedPlan()))
                )
                # Re-capture AFTER execution: under AQE the
                # pre-run executedPlan stringifies with
                # isFinalPlan=false; only the post-run walk shows
                # the plan that actually executed.
                physical = qe.executedPlan().toString()
            except Exception:
                # Connect: metrics not driver-inspectable
                rows.append(("row_count", str(df.count())))
        rows.append(("physical_plan", physical))
        return rows

    def _describe(self, m: re.Match) -> list:
        entry = self._require(m[1], None)
        if entry.kind == "topic":
            return [
                (
                    c.name,
                    c.dtype
                    + (str(list(c.row_shape)) if c.row_shape is not None else ""),
                    not c.required,
                )
                for c in entry.columns
            ]
        if entry.kind == "external":
            fields = self._external_frame(entry).schema.fields
        else:  # view: describe the resolved plan's schema
            fields = self._sql(entry.sql).schema.fields
        return [(f.name, f.dataType.simpleString(), f.nullable) for f in fields]

    def _insert(self, m: re.Match, params) -> int:
        """`INSERT INTO <topic> SELECT ...|VALUES ...` — the only DML the
        reference supports — routes to the topic's distributed sink (the
        reference's DataSink path, topic.rs:205-213 via InsertExec) and
        returns the reference's row count."""
        topic = self.topic(m[1])
        src = self._sql(m[2], params)
        names = [c.name for c in topic.entry.columns]
        if len(src.columns) == len(names) - 1:
            # time omitted: auto-fill now() like the publisher
            # (pyella publisher.rs:119-123 behavior)
            import pyspark.sql.functions as F

            src = src.select(
                F.lit(time.time_ns()).cast("long").alias(TIME_COLUMN), "*"
            )
        if src.columns != names and len(src.columns) == len(names):
            src = src.toDF(*names)
        n = topic.insert(src)
        self._register(topic.entry)
        return n

    #: Every statement ``query`` runs, tried in order; the first match
    #: wins and the last entry, a read that Spark runs, matches anything.
    #: README.md "SQL statements" is the same table for users.
    _STATEMENTS = (
        _Verb(rf"set\s+{_NAME}\s*(?:=|\s+to\s+)\s*(.+?){_END}", _set),
        _Verb(
            rf"create\s+{_OR_REPLACE}materialized\s+view\s+{_NAME}"
            r"(?:\s+keep\s+versions\s+(\d+))?\s+as\s+(.+)$",
            lambda db, m: db.create_materialized_view(
                m[2], m[4].strip(), replace=bool(m[1]), keep_versions=int(m[3] or 1)
            ),
            _COUNT,
        ),
        _Verb(
            rf"refresh\s+materialized\s+view\s+{_NAME}{_END}",
            lambda db, m: db.refresh_materialized(m[1]),
            _COUNT,
        ),
        _Verb(
            rf"create\s+topic\s+{_IF_NOT_EXISTS}{_NAME}\s+as\s+(select\b.+)$",
            _create_topic_as,
            _COUNT,
            reads=True,
        ),
        _Verb(
            r"copy\s*\((?P<q>.+)\)\s*to\s*'(?P<path>[^']+)'\s*"
            rf"(?:\(\s*format\s+(?P<fmt>parquet|csv)\s*\))?{_END}",
            _copy,
            _COUNT,
        ),
        # DataFusion-dialect CREATE EXTERNAL TABLE: the reference declares
        # it but `todo!()`s it (lazy/backend.rs:81-83)
        _Verb(
            rf"create\s+external\s+table\s+{_IF_NOT_EXISTS}{_NAME}\s+"
            r"stored\s+as\s+(parquet|csv|json)\s+(with\s+header\s+row\s+)?"
            rf"location\s+'([^']+)'{_END}",
            lambda db, m: db.create_external_table(
                m[2], m[3], m[5], header=bool(m[4]), if_not_exists=bool(m[1])
            ),
        ),
        _Verb(
            rf"alter\s+table\s+{_NAME}\s+"
            rf"(?:add\s+column\s+(\w+)\s+(\w+)|drop\s+column\s+(\w+)){_END}",
            _alter,
        ),
        _Verb(
            rf"create\s+{_OR_REPLACE}view\s+{_NAME}\s+as\s+(.+)$",
            # the statement registered what the view reads
            lambda db, m: db._put_view(m[2], m[3].strip(), replace=bool(m[1])),
            reads=True,
        ),
        _Verb(
            rf"drop\s+(?:table|materialized\s+view|view)\s+"
            rf"{_IF_EXISTS}{_NAME}{_END}",
            _drop,
        ),
        _Verb(
            rf"create\s+(?:schema|database)\s+{_IF_NOT_EXISTS}{_NAME}{_END}",
            lambda db, m: db.create_schema(m[2], if_not_exists=bool(m[1])),
        ),
        _Verb(
            rf"create\s+catalog\s+{_IF_NOT_EXISTS}{_NAME}{_END}",
            lambda db, m: db.create_catalog(m[2], if_not_exists=bool(m[1])),
        ),
        _Verb(
            rf"drop\s+(?:schema|database)\s+{_IF_EXISTS}{_NAME}\s*(cascade)?{_END}",
            lambda db, m: db.drop_schema(
                m[2], cascade=bool(m[3]), if_exists=bool(m[1])
            ),
        ),
        _Verb(
            rf"drop\s+catalog\s+{_IF_EXISTS}{_NAME}\s*(cascade)?{_END}",
            lambda db, m: db.drop_catalog(
                m[2], cascade=bool(m[3]), if_exists=bool(m[1])
            ),
        ),
        _Verb(
            rf"show\s+(?:schemas|databases){_END}",
            lambda db, m: sorted(db.store.schemas),
            "catalog string, schema string",
        ),
        _Verb(
            rf"show\s+catalogs{_END}",
            lambda db, m: [(c,) for c in sorted(db.store.catalogs)],
            "catalog string",
        ),
        _Verb(
            rf"show\s+tables{_END}",
            lambda db, m: [
                (e.catalog, e.schema, e.name, e.kind)
                for e in sorted(db.store.tables.values(), key=lambda e: e.ident)
            ],
            "catalog string, schema string, name string, kind string",
        ),
        _Verb(rf"vacuum(?:\s+{_NAME})?{_END}", _vacuum, "report string"),
        _Verb(
            rf"analyze\s+{_NAME}(?:\s*\(\s*([A-Za-z0-9_,\s]+)\))?{_END}",
            _analyze,
            _COUNT,
        ),
        _Verb(rf"show\s+create\s+table\s+{_NAME}{_END}", _show_create, "ddl string"),
        _Verb(
            r"explain\s+(analyze\s+)?(select\b.+)$",
            _explain,
            "plan_type string, plan string",
            params=True,
            reads=True,
        ),
        _Verb(
            rf"(?:describe|desc)\s+(?:table\s+)?{_NAME}{_END}",
            _describe,
            "col_name string, data_type string, nullable boolean",
            reads=True,
        ),
        _Verb(
            rf"insert\s+into\s+{_NAME}\s+(.+)$",
            _insert,
            _COUNT,
            params=True,
            reads=True,
        ),
        _Verb(
            "",
            lambda db, m, params: db._sql(m.string, params),
            None,
            params=True,
            reads=True,
        ),
    )

    def read(self, name: str) -> DataFrame:
        entry = self._require(name, None)
        if self._reads_sql(entry):
            # its topics as registered may cover another window
            self._register_referenced(entry.sql)
        return self._frame_for(entry)

    def subscribe(self, name: str) -> DataFrame:
        """Streaming scan of a topic (Subscriber parity,
        channel.rs:250-331): returns an unbounded streaming DataFrame."""
        return self.topic(name).read_stream(self.spark)

    def scan(self, name: str, mode: str = "auto", **kw):
        """Unified history+live topic scan (Topic.scan; the reference's
        default `SELECT * FROM topic` behavior, topic.rs:165-203)."""
        return self.topic(name).scan(self.spark, mode=mode, **kw)

    # -- helpers --------------------------------------------------------------

    def _split(self, name: str) -> tuple[str, str, str]:
        parts = name.split(".")
        if len(parts) == 1:
            return (DEFAULT_CATALOG, DEFAULT_SCHEMA, parts[0])
        if len(parts) == 2:
            return (DEFAULT_CATALOG, parts[0], parts[1])
        if len(parts) == 3:
            return tuple(parts)  # type: ignore[return-value]
        raise ValueError(f"invalid table name {name!r}")

    def _require(self, name: str, kind: str | None) -> TableEntry:
        entry = self.store.resolve(name)
        if entry is None:
            raise ValueError(f"table {name!r} does not exist")
        if kind is not None and entry.kind != kind:
            raise ValueError(f"{name!r} is a {entry.kind}, expected {kind}")
        return entry


def _default_session() -> SparkSession:
    from ella_spark.session import get_session

    return get_session("ella")


# Module-level convenience mirroring `ella::open/create`
open = Ella.open  # noqa: A001
create = Ella.create
open_or_create = Ella.open_or_create


class TableRef:
    """Handle for table CRUD, the reference's ``Ella::table`` accessor
    (ella/src/table.rs:75-226): ``get`` / ``exists`` / ``or_create`` /
    ``replace`` / ``drop`` against a (possibly absent) named table."""

    def __init__(self, db: Ella, name: str) -> None:
        self._db, self._name = db, name

    def exists(self) -> bool:
        return self._db.store.tables.get(self._db._split(self._name)) is not None

    def get(self) -> Topic:
        return self._db.topic(self._name)

    def or_create(self, info) -> Topic:
        """Open the topic, creating it from ``info`` if absent
        (table.rs GetOrCreate semantics)."""
        return self._db.create_topic(
            self._name,
            info.columns,
            temporary=info.temporary,
            indexes=info.index,
            if_not_exists=True,
        )

    def replace(self, info) -> Topic:
        """Drop-if-exists then create (table.rs Replace semantics)."""
        return self._db.create_topic(
            self._name,
            info.columns,
            temporary=info.temporary,
            indexes=info.index,
            replace=True,
        )

    def drop(self, if_exists: bool = False) -> None:
        try:
            self._db.drop_table(self._name)
        except ValueError:
            if not if_exists:
                raise


def _table(self: Ella, name: str) -> TableRef:
    """``db.table(name)`` accessor (ella/src/table.rs:75-226)."""
    return TableRef(self, name)


Ella.table = _table


def _create_vector_index(
    self: Ella,
    table: str,
    column: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    train_sample: int = 4096,
    kind: str = "ivf",
    m_subvectors: int | None = None,
    n_codes: int = 16,
) -> dict:
    """Train and persist a vector index for an embedding column of a
    catalog table.

    ``kind="ivf"``: the artifact is the unit-normalized centroid
    matrix — the production shape where centroids are trained ONCE per
    corpus (bounded driver-side sample, operators/similarity.py) and
    reused by every search.

    ``kind="ivfpq"``: additionally trains per-subspace PQ codebooks
    over the IVF residuals and writes the ENCODED corpus —
    (id, cell, m codes, norm), a few bytes per vector instead of
    dim·4 — as parquet next to the JSON. Searches then scan the
    compact encoded table for ADC candidate scoring and only touch
    full embeddings for the exact re-rank of the refined set. This is
    what keeps the candidate scan in memory at 100 TB corpus scale.

    Persisted as JSON (+ parquet for ivfpq) under the table's data dir
    (``_vector_index/<column>.json`` / ``<column>.pq/``), versioned
    alongside the data it indexes; rebuilding after major corpus drift
    is one call.
    """
    from ella_spark.operators.similarity import (
        pq_encode,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    if kind not in ("ivf", "ivfpq"):
        raise ValueError(f"unknown vector index kind {kind!r}")
    entry = self.store.tables[self._split(table)]
    df = self._frame_for(entry)
    row = df.select(column).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot build vector index: {table}.{column} is empty or "
            "its first embedding is NULL"
        )
    dim = len(row[0])
    cent = train_ivf_centroids(
        df, dim, vec_col=column, id_col=id_col,
        n_centroids=n_centroids, train_sample=train_sample,
    )
    meta = {
        "column": column,
        "id_col": id_col,
        "dim": dim,
        "n_centroids": int(cent.shape[0]),
        "kind": kind,
        "centroids": [[float(x) for x in row] for row in cent],
    }
    idx_dir = self.store.table_path(entry) / "_vector_index"
    idx_dir.mkdir(parents=True, exist_ok=True)
    if kind == "ivfpq":
        if m_subvectors is None:
            m_subvectors = max(4, dim // 4)
        books = train_pq_codebooks(
            df, dim, cent, vec_col=column, id_col=id_col,
            m_subvectors=m_subvectors, n_codes=n_codes,
            train_sample=train_sample,
        )
        meta["m_subvectors"] = m_subvectors
        meta["n_codes"] = n_codes
        meta["codebooks"] = [
            [[float(x) for x in code] for code in book] for book in books
        ]
        # distributed map-only encode; overwrite = rebuild
        pq_encode(df, cent, books, vec_col=column, id_col=id_col).write.mode(
            "overwrite"
        ).parquet(str(idx_dir / f"{column}.pq"))
    tmp = idx_dir / f".{column}.json.tmp"
    tmp.write_text(json.dumps(meta))
    tmp.replace(idx_dir / f"{column}.json")
    _vix_cache(self).pop((entry.ident, column), None)
    return meta


def _load_vector_index(self: Ella, table: str, column: str) -> dict:
    entry = self.store.tables[self._split(table)]
    key = (entry.ident, column)
    cache = _vix_cache(self)
    cached = cache.get(key)
    if cached is None:
        path = self.store.table_path(entry) / "_vector_index" / f"{column}.json"
        if not path.exists():
            raise ValueError(
                f"no vector index on {table}.{column}; "
                "call create_vector_index first"
            )
        cached = cache[key] = json.loads(path.read_text())
    return cached


def _vector_search(
    self: Ella,
    table: str,
    queries: DataFrame,
    column: str | None = None,
    k: int = 5,
    n_probe: int = 4,
    refine: int | None = None,
) -> DataFrame:
    """ANN top-k against a table's persisted vector index.

    ``queries``: small DataFrame with the same (id_col, column)
    schema. Loads the artifact (cached per session) and runs the
    distributed search — at scale the corpus side touches
    ~n_probe/n_centroids of its cells. For an ``ivfpq`` index the
    candidate scan reads the persisted ENCODED table (a few bytes per
    vector) and only the exact re-rank of the refined set touches full
    embeddings.
    """
    import numpy as np

    from ella_spark.operators.similarity import ivf_topk, ivfpq_topk

    column = column or "embedding"
    idx = self._load_vector_index(table, column)
    entry = self.store.tables[self._split(table)]
    df = self._frame_for(entry)
    if idx.get("kind") == "ivfpq":
        enc_path = self.store.table_path(entry) / "_vector_index" / f"{column}.pq"
        encoded = self.spark.read.schema(
            "neighbor_id bigint, cell int, codes array<smallint>, norm double"
        ).parquet(str(enc_path))
        return ivfpq_topk(
            df,
            queries,
            dim=idx["dim"],
            vec_col=idx["column"],
            id_col=idx["id_col"],
            k=k,
            n_probe=n_probe,
            m_subvectors=idx["m_subvectors"],
            n_codes=idx["n_codes"],
            # the ADC cut must leave comfortable headroom over k for
            # the exact re-rank to recover quantization misorderings
            refine=refine if refine is not None else max(48, 24 * k),
            centroids=np.asarray(idx["centroids"]),
            codebooks=np.asarray(idx["codebooks"]),
            encoded=encoded,
        )
    return ivf_topk(
        df,
        queries,
        dim=idx["dim"],
        vec_col=idx["column"],
        id_col=idx["id_col"],
        k=k,
        n_probe=n_probe,
        centroids=np.asarray(idx["centroids"]),
    )


def _vix_cache(db: Ella) -> dict:
    """Per-instance index cache (instances may point at different
    roots whose tables share names — never share across dbs)."""
    return db.__dict__.setdefault("_vector_index_cache", {})


def _extend_vector_index(self: Ella, table: str, column: str = "embedding") -> int:
    """Fold vectors added since the last (re)build into an ``ivfpq``
    index's encoded table WITHOUT retraining: rows whose id is absent
    from the encoded parquet are encoded with the existing
    centroids/codebooks and appended (immutable files — readers see
    old-or-new, never partial). Standard online-IVF practice: the
    coarse/fine quantizers stay fixed between full rebuilds; rebuild
    (`create_vector_index`) after major corpus drift. Returns the
    number of vectors appended. No-op (0) for a plain ``ivf`` index,
    whose search encodes nothing."""
    import numpy as np

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ella_spark.operators.similarity import pq_encode

    idx = self._load_vector_index(table, column)
    if idx.get("kind") != "ivfpq":
        return 0
    entry = self.store.tables[self._split(table)]
    df = self._frame_for(entry)
    enc_path = self.store.table_path(entry) / "_vector_index" / f"{column}.pq"
    seen = self.spark.read.schema(
        "neighbor_id bigint, cell int, codes array<smallint>, norm double"
    ).parquet(str(enc_path)).select(
        F.col("neighbor_id").alias(idx["id_col"])
    )
    new = df.join(seen, idx["id_col"], "left_anti")
    fresh = pq_encode(
        new,
        np.asarray(idx["centroids"]),
        np.asarray(idx["codebooks"]),
        vec_col=idx["column"],
        id_col=idx["id_col"],
    )
    obs = Observation()
    (
        fresh.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("append")
        .parquet(str(enc_path))
    )
    return int(obs.get["n"])


Ella.create_vector_index = _create_vector_index
Ella._load_vector_index = _load_vector_index
Ella.vector_search = _vector_search
Ella.extend_vector_index = _extend_vector_index
