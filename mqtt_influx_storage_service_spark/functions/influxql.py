"""InfluxQL → Spark DataFrame compiler.

The reference service feeds an InfluxDB whose users query it with
InfluxQL (``influx_service.py:183-200`` writes the narrow+wide points
that InfluxQL ``SELECT``\\ s read back). The repo already implements the
InfluxQL function family as standalone operators (``operators/
timeseries.py`` — LAST/SPREAD/PERCENTILE/DERIVATIVE/...); this module
closes the remaining surface gap: a user of the reference can hand
their InfluxQL *query strings* to :func:`influxql` and get back the
equivalent lazy DataFrame plan.

Design: a hand-rolled tokenizer + recursive-descent parser build a
small AST; compilation is pure *logical-plan construction* on the
driver — the emitted plan is 100% declarative DataFrame API (filters,
groupBy, windows), so Catalyst gets the whole query (predicate
pushdown into the parquet scan, partial aggregation, AQE) exactly as
if it had been written by hand. No UDFs, no collect, no per-row
Python anywhere.

Supported surface (practical InfluxQL 1.x subset):

- ``SELECT <fields> [INTO <m>] FROM <measurements> [WHERE ...]
  [GROUP BY time(<dur>[, <offset>])[, <tags>] [fill(...)]]
  [ORDER BY time [DESC]] [LIMIT n] [OFFSET n] [SLIMIT n]``
- subqueries: ``FROM (SELECT ...)`` (single source; inner GROUP BY
  tags stay tags, inner outputs become fields)
- aggregates  COUNT SUM MIN MAX MEAN MEDIAN MODE SPREAD STDDEV
  PERCENTILE(f, N) FIRST LAST
- bucket transforms  DERIVATIVE DIFFERENCE CUMULATIVE_SUM
  MOVING_AVERAGE (wrap one aggregate, require GROUP BY time)
- ``fill(none | null | previous | <number>)`` (needs WHERE time bounds
  on the top-level AND spine)
- measurement regex ``FROM /re/`` and comma lists (adds a
  ``measurement`` column; one IN-filtered scan of the catalog's
  relation)
- tag/field predicates with ``AND OR ( )``, ``= != <> < <= > >=``,
  regex ``=~ /re/`` / ``!~ /re/``, and ``time`` bounds as timestamp
  strings, exact integer epoch-ns literals (bare or ``ns``-suffixed),
  or ``now() ± <dur>`` against the injectable clock
- ``SHOW MEASUREMENTS | SERIES | TAG KEYS | FIELD KEYS |
  TAG VALUES WITH KEY =`` and the full cardinality family
  ``SHOW MEASUREMENT | SERIES | TAG KEY | TAG VALUES ... WITH KEY |
  FIELD KEY  [EXACT] CARDINALITY`` (plain = HLL++ estimate via
  ``approx_count_distinct``, EXACT = exact distinct count — the
  InfluxDB 1.x estimate/exact split mapped onto Spark's sketch)
- ``SELECT ... INTO`` (:func:`influxql_into`), ``DELETE FROM ...
  WHERE`` / ``DROP MEASUREMENT`` (:func:`influxql_delete`), and
  ``CREATE CONTINUOUS QUERY`` (compiled by ``..streaming.cq``)

Determinism contract (the repo-wide oracle-hash discipline): MEAN uses
the round(round(sum,2)/count,6) pattern, MEDIAN/PERCENTILE are
nearest-rank *element selection* (ties broken by the catalog's
tiebreak column), FIRST/LAST are rank-1 row selection by (time,
tiebreak) — all bit-identical across engines (see
``operators/timeseries.py`` docstrings for why).
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass, field as dc_field, replace as dc_replace

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

__all__ = ["influxql", "parse", "InfluxQLError", "EventsCatalog"]


class InfluxQLError(ValueError):
    """Parse or compile error with position context."""


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_DUR_UNITS = {
    "ns": 1,
    "u": 1_000,
    "µ": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3_600 * 1_000_000_000,
    "d": 86_400 * 1_000_000_000,
    "w": 7 * 86_400 * 1_000_000_000,
}

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<dur>\d+(?:ns|u|µ|ms|s|m|h|d|w)\b)
  | (?P<num>\d+\.\d+|\.\d+|\d+)
  | (?P<str>'(?:[^'\\]|\\.)*')
  | (?P<quoted>"(?:[^"\\]|\\.)*")
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*)
  | (?P<op><>|!=|<=|>=|=~|!~|[=<>(),*+\-/%;])
  | (?P<junk>.)
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class _Tok:
    kind: str  # 'dur' | 'num' | 'str' | 'ident' | 'op' | 'regex' | 'eof'
    text: str
    pos: int


def _tokenize(src: str) -> list[_Tok]:
    """One pass; '/' starts a regex literal only where a value is
    expected (after FROM, a comma in FROM, or =~ / !~), so we lex '/'
    as an op and let the parser splice regexes out of the raw source by
    position. Characters meaningful only inside a regex body (``^ $ |
    [ ]`` ...) lex as 'junk' — the parser rejects them anywhere a real
    token is required and skips them when resyncing past a regex."""
    toks: list[_Tok] = []
    i, n = 0, len(src)
    while i < n:
        m = _TOKEN_RE.match(src, i)
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "str":
            text = text[1:-1].replace("\\'", "'")
        elif kind == "quoted":
            kind = "ident"
            text = text[1:-1].replace('\\"', '"')
        toks.append(_Tok(kind, text, m.start()))
    toks.append(_Tok("eof", "", n))
    return toks


def _dur_ns(text: str) -> int:
    m = re.fullmatch(r"(\d+)(ns|u|µ|ms|s|m|h|d|w)", text)
    if not m:
        raise InfluxQLError(f"bad duration literal {text!r}")
    return int(m.group(1)) * _DUR_UNITS[m.group(2)]


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass
class Var:
    name: str


@dataclass
class Num:
    value: float
    is_int: bool


@dataclass
class Str:
    value: str


@dataclass
class Dur:
    ns: int


@dataclass
class Rgx:
    pattern: str


@dataclass
class Call:
    func: str
    args: list


@dataclass
class Bin:
    op: str
    left: object
    right: object


@dataclass
class Field:
    expr: object
    alias: str | None


@dataclass
class Select:
    fields: list[Field]
    measurements: list  # Str names or Rgx
    where: object | None
    group_time_ns: int | None
    group_tags: list[str]
    fill: str | float | None  # 'none'|'null'|'previous'|number|None
    order_desc: bool
    limit: int | None
    offset: int | None
    slimit: int | None
    into: str | None = None  # SELECT ... INTO <measurement>
    offset_ns: int = 0  # GROUP BY time(iv, offset) bucket shift
    tz: str | None = None  # TZ('<IANA zone>') — local-time buckets
    soffset: int | None = None  # SOFFSET n — skip the first n series


@dataclass
class Show:
    what: str  # 'measurements' | 'tag keys' | 'field keys' | 'tag values'
    #           | 'series' | 'series cardinality' | 'retention policies'
    #           | 'databases'
    with_key: str | None = None
    # FROM in SHOW accepts a measurement name, a /regex/, or a comma
    # list of either (aligned with the SELECT path) — str | Rgx | list.
    from_measurement: object | None = None
    on_database: str | None = None  # SHOW RETENTION POLICIES ON <db>
    # SHOW SERIES / TAG VALUES / MEASUREMENTS / TAG KEYS accept WHERE
    # (tag predicates + time bounds) — the shape dashboard template
    # variables issue.
    where: object | None = None
    # SHOW MEASUREMENTS WITH MEASUREMENT = name | =~ /regex/ (the
    # Grafana measurement-variable query) — str | Rgx | None.
    with_measurement: object | None = None
    # InfluxDB 1.x cardinality split: ``SHOW <x> CARDINALITY`` is an
    # ESTIMATE (lowered onto approx_count_distinct — one HLL++ partial
    # merge, no distinct shuffle, the right primitive at 100 TB) and
    # ``SHOW <x> EXACT CARDINALITY`` is the exact distinct count.
    exact: bool = False


@dataclass
class Explain:
    """``EXPLAIN [ANALYZE] SELECT ...`` — InfluxDB 1.x's plan
    introspection statement. Lowered onto Spark's own explain: plain
    EXPLAIN returns the formatted LAZY plan (no job runs); ANALYZE
    executes the query once and returns the executed plan with its
    runtime metrics (AQE final plan, row counts)."""

    inner: "Select"
    analyze: bool = False


@dataclass
class Delete:
    measurement: str | None  # None = every measurement (DROP-less form)
    where: object | None


@dataclass
class DropSeries:
    """``DROP SERIES FROM <m> [WHERE <tag predicate>]`` — removes whole
    series (every point). InfluxQL forbids time bounds here; the WHERE
    may reference tags only (influx docs, data-exploration)."""

    measurement: object | None  # str | Rgx | list | None
    where: object | None


@dataclass
class RetentionPolicyStmt:
    """CREATE/ALTER/DROP RETENTION POLICY — InfluxDB 1.x management
    DDL, lowered onto :mod:`..retention`'s MetaStore + enforcement."""

    action: str  # 'create' | 'alter' | 'drop'
    name: str
    database: str
    duration_ns: int | None = None  # parsed DURATION; None = not given
    infinite: bool = False  # DURATION INF
    replication: int | None = None
    shard_ns: int | None = None  # SHARD DURATION
    default: bool = False


@dataclass
class CreateDatabase:
    name: str


@dataclass
class DropContinuousQuery:
    name: str
    database: str


@dataclass
class DropDatabase:
    name: str


@dataclass
class DropShard:
    # the shard-group window ordinal SHOW SHARDS lists as ``id``
    shard_id: int


@dataclass
class KillQuery:
    # InfluxDB qids are integers; Spark streaming query ids are UUIDs —
    # both ride as the literal text of the id token.
    qid: str


class _Parser:
    def __init__(self, src: str):
        self.src = src
        self.toks = _tokenize(src)
        self.i = 0

    # -- token plumbing ----------------------------------------------------
    def peek(self) -> _Tok:
        return self.toks[self.i]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        t = self.peek()
        if t.kind == "ident" and t.text.upper() == word:
            self.i += 1
            return True
        return False

    def expect_kw(self, word: str) -> None:
        if not self.kw(word):
            t = self.peek()
            raise InfluxQLError(f"expected {word} at {t.pos}, got {t.text!r}")

    def expect_op(self, op: str) -> None:
        t = self.next()
        if t.kind != "op" or t.text != op:
            raise InfluxQLError(f"expected {op!r} at {t.pos}, got {t.text!r}")

    def at_op(self, op: str) -> bool:
        t = self.peek()
        if t.kind == "op" and t.text == op:
            self.i += 1
            return True
        return False

    def _regex_literal(self) -> Rgx:
        """The tokenizer emits '/' as an op; a regex literal is the raw
        source between this '/' and the next unescaped '/'."""
        t = self.next()
        if not (t.kind == "op" and t.text == "/"):
            raise InfluxQLError(f"expected regex at {t.pos}")
        j = t.pos + 1
        src = self.src
        while j < len(src) and (src[j] != "/" or src[j - 1] == "\\"):
            j += 1
        if j >= len(src):
            raise InfluxQLError("unterminated regex literal")
        pat = src[t.pos + 1 : j]
        # resync token stream past the closing '/'
        while self.toks[self.i].kind != "eof" and self.toks[self.i].pos <= j:
            self.i += 1
        return Rgx(pat)

    # -- grammar -----------------------------------------------------------
    def parse(self):
        stmt = self._statement()
        t = self.peek()
        if t.kind != "eof":
            raise InfluxQLError(f"trailing input at {t.pos}: {t.text!r}")
        return stmt

    def parse_statements(self) -> list:
        """A ``;``-separated statement batch (the /query endpoint's
        ``q=`` accepts several statements per request). Empty
        statements and a trailing semicolon are tolerated, as InfluxDB
        does."""
        stmts = []
        while True:
            while self.peek().kind == "op" and self.peek().text == ";":
                self.next()
            if self.peek().kind == "eof":
                break
            stmts.append(self._statement())
            t = self.peek()
            if t.kind == "op" and t.text == ";":
                continue
            if t.kind != "eof":
                raise InfluxQLError(f"trailing input at {t.pos}: {t.text!r}")
        return stmts

    def _statement(self):
        if self.kw("SHOW"):
            stmt = self._show()
        elif self.kw("DELETE"):
            m = self._opt_from()
            where = self._expr() if self.kw("WHERE") else None
            if m is None and where is None:
                raise InfluxQLError("DELETE needs FROM or WHERE")
            stmt = Delete(m, where)
        elif self.kw("CREATE"):
            if self.kw("DATABASE"):
                stmt = CreateDatabase(self._ident("database name"))
            elif self.kw("CONTINUOUS"):
                self.expect_kw("QUERY")
                stmt = self._continuous_query()
            else:
                self.expect_kw("RETENTION")
                self.expect_kw("POLICY")
                stmt = self._retention_policy("create")
        elif self.kw("ALTER"):
            self.expect_kw("RETENTION")
            self.expect_kw("POLICY")
            stmt = self._retention_policy("alter")
        elif self.kw("DROP"):
            if self.kw("SERIES"):
                m = self._opt_from_multi()
                where = self._expr() if self.kw("WHERE") else None
                if m is None and where is None:
                    raise InfluxQLError("DROP SERIES needs FROM or WHERE")
                stmt = DropSeries(m, where)
            elif self.kw("RETENTION"):
                self.expect_kw("POLICY")
                name = self._ident("policy name")
                self.expect_kw("ON")
                db = self._ident("database name")
                stmt = RetentionPolicyStmt("drop", name, db)
            elif self.kw("CONTINUOUS"):
                self.expect_kw("QUERY")
                name = self._ident("continuous query name")
                self.expect_kw("ON")
                stmt = DropContinuousQuery(
                    name, self._ident("database name")
                )
            elif self.kw("DATABASE"):
                stmt = DropDatabase(self._ident("database name"))
            elif self.kw("SHARD"):
                t = self.next()
                if t.kind != "num" or "." in t.text:
                    raise InfluxQLError(f"expected shard id at {t.pos}")
                stmt = DropShard(int(t.text))
            else:
                self.expect_kw("MEASUREMENT")
                stmt = Delete(self._ident("measurement"), None)
        elif self.kw("EXPLAIN"):
            analyze = bool(self.kw("ANALYZE"))
            self.expect_kw("SELECT")
            stmt = Explain(self._select(), analyze)
        elif self.kw("KILL"):
            self.expect_kw("QUERY")
            t = self.next()
            if t.kind not in ("ident", "num", "str"):
                raise InfluxQLError(f"expected query id at {t.pos}")
            stmt = KillQuery(t.text)
        else:
            self.expect_kw("SELECT")
            stmt = self._select()
        return stmt

    def _ident(self, what: str) -> str:
        t = self.next()
        if t.kind != "ident":
            raise InfluxQLError(f"expected {what} at {t.pos}, got {t.text!r}")
        return t.text

    def _continuous_query(self) -> "ContinuousQuery":
        """``<name> ON <db> [RESAMPLE [EVERY <dur>] [FOR <dur>]]
        BEGIN <select> END`` — the tail after CREATE CONTINUOUS QUERY."""
        name = self.next()
        if name.kind != "ident":
            raise InfluxQLError(f"expected CQ name at {name.pos}")
        self.expect_kw("ON")
        db = self.next()
        if db.kind != "ident":
            raise InfluxQLError(f"expected database name at {db.pos}")
        every_ns = for_ns = None
        if self.kw("RESAMPLE"):
            if self.kw("EVERY"):
                d = self.next()
                if d.kind != "dur":
                    raise InfluxQLError(f"expected duration at {d.pos}")
                every_ns = _dur_ns(d.text)
            if self.kw("FOR"):
                d = self.next()
                if d.kind != "dur":
                    raise InfluxQLError(f"expected duration at {d.pos}")
                for_ns = _dur_ns(d.text)
            if every_ns is None and for_ns is None:
                t = self.peek()
                raise InfluxQLError(
                    f"RESAMPLE needs EVERY and/or FOR at {t.pos}"
                )
        self.expect_kw("BEGIN")
        self.expect_kw("SELECT")
        sel = self._select()
        self.expect_kw("END")
        return ContinuousQuery(name.text, db.text, sel, every_ns, for_ns)

    def _retention_policy(self, action: str) -> RetentionPolicyStmt:
        """The clause tail shared by CREATE and ALTER RETENTION POLICY:
        ``<name> ON <db> [DURATION <dur>|INF] [REPLICATION <n>]
        [SHARD DURATION <dur>] [DEFAULT]`` — CREATE requires DURATION
        and REPLICATION (InfluxDB 1.x grammar); ALTER takes any
        subset."""
        name = self._ident("policy name")
        self.expect_kw("ON")
        db = self._ident("database name")
        dur_ns: int | None = None
        infinite = False
        repl: int | None = None
        shard_ns: int | None = None
        default = False
        while True:
            if self.kw("DURATION"):
                d = self.next()
                if d.kind == "dur":
                    dur_ns = _dur_ns(d.text)
                elif d.kind == "ident" and d.text.upper() == "INF":
                    infinite = True
                else:
                    raise InfluxQLError(
                        f"expected duration or INF at {d.pos}"
                    )
            elif self.kw("REPLICATION"):
                repl = self._int()
            elif self.kw("SHARD"):
                self.expect_kw("DURATION")
                d = self.next()
                if d.kind != "dur":
                    raise InfluxQLError(f"expected duration at {d.pos}")
                shard_ns = _dur_ns(d.text)
            elif self.kw("DEFAULT"):
                default = True
            else:
                break
        if action == "create":
            if dur_ns is None and not infinite:
                raise InfluxQLError("CREATE RETENTION POLICY needs DURATION")
            if repl is None:
                raise InfluxQLError(
                    "CREATE RETENTION POLICY needs REPLICATION"
                )
        return RetentionPolicyStmt(
            action, name, db, dur_ns, infinite, repl, shard_ns, default
        )

    def _show(self) -> Show:
        if self.kw("MEASUREMENTS"):
            wm = None
            if self.kw("WITH"):
                self.expect_kw("MEASUREMENT")
                t = self.next()
                if t.kind == "op" and t.text == "=~":
                    wm = self._regex_literal()
                elif t.kind == "op" and t.text == "=":
                    n = self.next()
                    if n.kind != "ident":
                        raise InfluxQLError(
                            f"expected measurement at {n.pos}"
                        )
                    wm = n.text
                else:
                    raise InfluxQLError(
                        f"WITH MEASUREMENT expects = or =~ at {t.pos}"
                    )
            return Show(
                "measurements",
                with_measurement=wm,
                where=self._expr() if self.kw("WHERE") else None,
            )
        if self.kw("DATABASES"):
            return Show("databases")
        if self.kw("QUERIES"):
            return Show("queries")
        if self.kw("CONTINUOUS"):
            self.expect_kw("QUERIES")
            return Show("continuous queries")
        if self.kw("SHARD"):
            self.expect_kw("GROUPS")
            return Show("shard groups")
        if self.kw("SHARDS"):
            return Show("shards")
        if self.kw("RETENTION"):
            self.expect_kw("POLICIES")
            db = self._ident("database name") if self.kw("ON") else None
            return Show("retention policies", on_database=db)
        if self.kw("MEASUREMENT"):
            # singular: SHOW MEASUREMENT [EXACT] CARDINALITY
            exact = bool(self.kw("EXACT"))
            self.expect_kw("CARDINALITY")
            return Show(
                "measurement cardinality",
                exact=exact,
                from_measurement=self._opt_from_multi(),
                where=self._expr() if self.kw("WHERE") else None,
            )
        if self.kw("SERIES"):
            exact = bool(self.kw("EXACT"))
            if self.kw("CARDINALITY"):
                return Show(
                    "series cardinality",
                    exact=exact,
                    from_measurement=self._opt_from_multi(),
                    where=self._expr() if self.kw("WHERE") else None,
                )
            if exact:
                t = self.peek()
                raise InfluxQLError(
                    f"EXACT requires CARDINALITY at {t.pos}"
                )
            return Show(
                "series",
                from_measurement=self._opt_from_multi(),
                where=self._expr() if self.kw("WHERE") else None,
            )
        if self.kw("TAG"):
            if self.kw("KEYS"):
                return Show(
                    "tag keys",
                    from_measurement=self._opt_from_multi(),
                    where=self._expr() if self.kw("WHERE") else None,
                )
            if self.kw("KEY"):
                # singular: SHOW TAG KEY [EXACT] CARDINALITY
                exact = bool(self.kw("EXACT"))
                self.expect_kw("CARDINALITY")
                return Show(
                    "tag key cardinality",
                    exact=exact,
                    from_measurement=self._opt_from_multi(),
                    where=self._expr() if self.kw("WHERE") else None,
                )
            self.expect_kw("VALUES")
            exact = bool(self.kw("EXACT"))
            card = bool(self.kw("CARDINALITY"))
            if exact and not card:
                t = self.peek()
                raise InfluxQLError(
                    f"EXACT requires CARDINALITY at {t.pos}"
                )
            frm = self._opt_from_multi()
            self.expect_kw("WITH")
            self.expect_kw("KEY")
            self.expect_op("=")
            key = self.next()
            if key.kind != "ident":
                raise InfluxQLError(f"expected tag key at {key.pos}")
            return Show(
                "tag values cardinality" if card else "tag values",
                exact=exact,
                with_key=key.text,
                from_measurement=frm,
                where=self._expr() if self.kw("WHERE") else None,
            )
        if self.kw("FIELD"):
            if self.kw("KEYS"):
                return Show(
                    "field keys", from_measurement=self._opt_from_multi()
                )
            self.expect_kw("KEY")
            # singular: SHOW FIELD KEY [EXACT] CARDINALITY
            exact = bool(self.kw("EXACT"))
            self.expect_kw("CARDINALITY")
            return Show(
                "field key cardinality",
                exact=exact,
                from_measurement=self._opt_from_multi(),
            )
        t = self.peek()
        raise InfluxQLError(f"unsupported SHOW at {t.pos}: {t.text!r}")

    def _opt_from(self) -> str | None:
        if self.kw("FROM"):
            t = self.next()
            if t.kind != "ident":
                raise InfluxQLError(f"expected measurement at {t.pos}")
            return t.text
        return None

    def _opt_from_multi(self):
        """SHOW/DROP SERIES ``FROM``: a bare name, a ``/regex/``, or a
        comma list of either (the SELECT path's source grammar) —
        returns ``None`` or a list of ``Str | Rgx``."""
        if not self.kw("FROM"):
            return None
        items = [self._from_item()]
        while self.at_op(","):
            items.append(self._from_item())
        return items

    def _from_item(self):
        t = self.peek()
        if t.kind == "op" and t.text == "/":
            return self._regex_literal()
        t = self.next()
        if t.kind != "ident":
            raise InfluxQLError(f"expected measurement at {t.pos}")
        return Str(t.text)

    def _select(self) -> Select:
        fields = [self._field()]
        while self.at_op(","):
            fields.append(self._field())
        into = None
        if self.kw("INTO"):
            t = self.next()
            if t.kind != "ident":
                raise InfluxQLError(f"expected INTO measurement at {t.pos}")
            into = t.text
        self.expect_kw("FROM")
        measurements: list = [self._measurement()]
        while self.at_op(","):
            measurements.append(self._measurement())
        where = self._expr() if self.kw("WHERE") else None

        group_time_ns: int | None = None
        group_time_offset_ns = 0
        group_tags: list[str] = []
        fill: str | float | None = None
        if self.kw("GROUP"):
            self.expect_kw("BY")
            while True:
                t = self.peek()
                if t.kind == "ident" and t.text.lower() == "time":
                    self.next()
                    self.expect_op("(")
                    d = self.next()
                    if d.kind != "dur":
                        raise InfluxQLError(f"expected duration at {d.pos}")
                    group_time_ns = _dur_ns(d.text)
                    if self.at_op(","):
                        d2 = self.next()
                        if d2.kind != "dur":
                            raise InfluxQLError(
                                f"expected offset duration at {d2.pos}"
                            )
                        group_time_offset_ns = _dur_ns(d2.text)
                    self.expect_op(")")
                elif t.kind == "op" and t.text == "*":
                    self.next()
                    group_tags.append("*")
                elif t.kind == "ident" and t.text.upper() == "FILL":
                    self.next()
                    self.expect_op("(")
                    v = self.next()
                    if v.kind == "ident" and v.text.lower() in (
                        "none",
                        "null",
                        "previous",
                        "linear",
                    ):
                        fill = v.text.lower()
                    elif v.kind == "num":
                        fill = float(v.text)
                    else:
                        raise InfluxQLError(f"bad fill() at {v.pos}")
                    self.expect_op(")")
                elif t.kind == "ident":
                    self.next()
                    group_tags.append(t.text)
                else:
                    raise InfluxQLError(f"bad GROUP BY at {t.pos}")
                if not self.at_op(","):
                    # fill() may trail without a comma in the wild
                    if self.peek().kind == "ident" and self.peek().text.upper() == "FILL":
                        continue
                    break

        order_desc = False
        if self.kw("ORDER"):
            self.expect_kw("BY")
            t = self.next()
            if not (t.kind == "ident" and t.text.lower() == "time"):
                raise InfluxQLError("ORDER BY supports only time")
            if self.kw("DESC"):
                order_desc = True
            else:
                self.kw("ASC")

        limit = offset = slimit = soffset = None
        while True:
            if self.kw("LIMIT"):
                limit = self._int()
            elif self.kw("OFFSET"):
                offset = self._int()
            elif self.kw("SLIMIT"):
                slimit = self._int()
            elif self.kw("SOFFSET"):
                soffset = self._int()
            else:
                break
        tz = None
        if self.kw("TZ"):
            # TZ('America/New_York') — InfluxQL's trailing clause:
            # GROUP BY time() buckets align to local wall time in the
            # named IANA zone instead of UTC
            self.expect_op("(")
            t = self.next()
            if t.kind != "str":
                raise InfluxQLError("TZ expects a quoted zone name")
            tz = t.text
            self.expect_op(")")
        return Select(
            fields,
            measurements,
            where,
            group_time_ns,
            group_tags,
            fill,
            order_desc,
            limit,
            offset,
            slimit,
            into,
            group_time_offset_ns,
            tz,
            soffset,
        )

    def _int(self) -> int:
        t = self.next()
        if t.kind != "num" or "." in t.text:
            raise InfluxQLError(f"expected integer at {t.pos}, got {t.text!r}")
        return int(t.text)

    def _measurement(self):
        t = self.peek()
        if t.kind == "op" and t.text == "/":
            return self._regex_literal()
        if t.kind == "op" and t.text == "(":
            # InfluxQL 1.2+ subquery: FROM (SELECT ...)
            self.next()
            self.expect_kw("SELECT")
            inner = self._select()
            self.expect_op(")")
            return inner
        t = self.next()
        if t.kind != "ident":
            raise InfluxQLError(f"expected measurement at {t.pos}")
        return Str(t.text)

    def _field(self) -> Field:
        e = self._expr()
        alias = None
        if self.kw("AS"):
            a = self.next()
            if a.kind != "ident":
                raise InfluxQLError(f"expected alias at {a.pos}")
            alias = a.text
        return Field(e, alias)

    # precedence: OR < AND < comparison < additive < multiplicative < unary
    def _expr(self):
        e = self._and()
        while self.kw("OR"):
            e = Bin("OR", e, self._and())
        return e

    def _and(self):
        e = self._cmp()
        while self.kw("AND"):
            e = Bin("AND", e, self._cmp())
        return e

    def _cmp(self):
        e = self._add()
        t = self.peek()
        if t.kind == "op" and t.text in ("=", "!=", "<>", "<", "<=", ">", ">=", "=~", "!~"):
            self.next()
            if t.text in ("=~", "!~"):
                return Bin(t.text, e, self._regex_literal())
            return Bin(t.text, e, self._add())
        return e

    def _add(self):
        e = self._mul()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("+", "-"):
                self.next()
                e = Bin(t.text, e, self._mul())
            else:
                return e

    def _mul(self):
        e = self._unary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("*", "/", "%"):
                self.next()
                e = Bin(t.text, e, self._unary())
            else:
                return e

    def _unary(self):
        t = self.peek()
        if t.kind == "op" and t.text == "-":
            self.next()
            inner = self._unary()
            return Bin("-", Num(0.0, True), inner)
        if t.kind == "op" and t.text == "(":
            self.next()
            e = self._expr()
            self.expect_op(")")
            return e
        if t.kind == "op" and t.text == "*":
            self.next()
            return Var("*")
        if t.kind == "dur":
            self.next()
            return Dur(_dur_ns(t.text))
        if t.kind == "num":
            self.next()
            is_int = "." not in t.text
            # exact int for integer literals: float would round epoch-ns
            # magnitudes (> 2^53) and corrupt time bounds
            return Num(int(t.text) if is_int else float(t.text), is_int)
        if t.kind == "str":
            self.next()
            return Str(t.text)
        if t.kind == "ident":
            self.next()
            if self.at_op("("):
                args = []
                if not self.at_op(")"):
                    args.append(self._expr())
                    while self.at_op(","):
                        args.append(self._expr())
                    self.expect_op(")")
                return Call(t.text.upper(), args)
            return Var(t.text)
        raise InfluxQLError(f"unexpected token at {t.pos}: {t.text!r}")


def parse(src: str):
    """Parse an InfluxQL statement into the module's AST (Select/Show)."""
    return _Parser(src).parse()


def parse_all(src: str) -> list:
    """Parse a ``;``-separated statement batch into a list of ASTs."""
    return _Parser(src).parse_statements()


@dataclass
class ContinuousQuery:
    name: str
    database: str
    select: Select
    # RESAMPLE EVERY <d> — how often the rollup advances; lowered onto
    # the streaming trigger interval (processingTime) by ..streaming.cq.
    every_ns: int | None = None
    # RESAMPLE FOR <d> — InfluxDB's recompute window: points older than
    # FOR (relative to the run clock) never update their bucket.
    # Lowered as the late-data horizon on each micro-batch (the
    # watermark role), measured against the batch's max EVENT time —
    # deterministic where InfluxDB's wall clock is not.
    for_ns: int | None = None


def parse_continuous_query(src: str) -> ContinuousQuery:
    """Parse ``CREATE CONTINUOUS QUERY <name> ON <db>
    [RESAMPLE [EVERY <dur>] [FOR <dur>]] BEGIN <select> END`` — the
    InfluxQL statement the streaming tier's :mod:`..streaming.cq`
    compiles into an incremental rollup. The same grammar is reachable
    through :func:`parse` (for ``influxql_admin`` registration)."""
    p = _Parser(src)
    p.expect_kw("CREATE")
    p.expect_kw("CONTINUOUS")
    p.expect_kw("QUERY")
    cq = p._continuous_query()
    t = p.peek()
    if t.kind != "eof":
        raise InfluxQLError(f"trailing input at {t.pos}: {t.text!r}")
    return cq


# --------------------------------------------------------------------------
# Catalog — three members: ``schema`` (a MeasurementSchema),
# ``measurement_names()`` and ``frame(spark)``, one lazy relation of
# ALL the catalog's points with a ``measurement`` column. The compiler
# applies the FROM filter (measurement_points); a catalog never does.
# --------------------------------------------------------------------------


@dataclass
class MeasurementSchema:
    tags: list[str]
    fields: list[str]
    tiebreak: str  # hidden monotone column used for deterministic selection
    # Physical series identity of the narrow storage layout (the
    # reference stores one series per decomposed topic,
    # influx_service.py:183-189) when it is NOT exposed as a queryable
    # tag. Raw per-point window transforms partition by it even without
    # GROUP BY tags — per-series semantics over the narrow layout, and
    # the difference between a partitioned WindowExec and a
    # single-partition sort of the whole measurement at 100 TB.
    series_col: str | None = None


# A raw transform over a relation with NO series identity (no tags, no
# series_col) needs one global sort-window over every matching point.
# That is semantically legal (the measurement IS one series) but does
# not scale; refuse beyond this bound rather than melt an executor.
RAW_GLOBAL_WINDOW_MAX = 5_000_000

# PointsCatalog/WidePointsCatalog materialize a measurement-name index
# on the driver at construction (mirrors InfluxDB's in-memory series
# index, influx_service.py:183-197 layouts). At 100 TB with millions of
# series that collect is a driver-memory bottleneck, so the probe is
# streaming.ingest.bounded_distinct, and above the cap construction
# refuses with the same actionable error shape as RAW_GLOBAL_WINDOW_MAX
# (feed the index from the maintained series-catalog table instead of
# an ad-hoc scan). The wide catalog's field list is a pivot's columns,
# so it takes the pivot's own cap, WIDE_VIEW_MAX_FIELDS.
CATALOG_MAX_SERIES = 100_000


class _PointsLake:
    """The one reader of the points lake ``streaming/ingest.py::
    to_points`` writes, shared by the narrow and wide catalogs. The
    schema comes from the writer (``to_points`` over an empty frame,
    no Spark job), so building a statement infers nothing; the file
    listing still runs per statement, so micro-batches that land after
    construction stay visible. ``frame`` hands the whole lake to the
    catalog's ``_frame``; the compiler's measurement filter reaches the
    parquet scan through its projection (and through the wide pivot)."""

    def __init__(self, spark: SparkSession, points_dir: str):
        # imported here: streaming/__init__ -> cq -> this module
        from ..streaming.ingest import MQTT_SCHEMA, to_points

        self.points_dir = points_dir
        self._lake_schema = to_points(
            spark.createDataFrame([], MQTT_SCHEMA)
        ).schema

    def _read(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(self._lake_schema).parquet(self.points_dir)

    def _index(
        self, spark: SparkSession, given: list[str] | None, col: str,
        what: str, cap: int,
    ) -> list[str]:
        """``given`` sorted — the catalog-fed override (the 100-TB path:
        ts_series_catalog output or any curated list), no probe — else
        the bounded distinct of ``col`` over the lake."""
        if given is not None:
            return sorted(given)
        from ..streaming.ingest import bounded_distinct

        vals = bounded_distinct(self._read(spark), col, cap, InfluxQLError(
            f"catalog construction over {self.points_dir!r} found more "
            f"than {cap} distinct {what}; a driver-side measurement index "
            "at that cardinality is a memory hazard — bind the lake "
            "through a maintained series catalog (pass the names=/"
            "devices=/fields= constructor overrides, fed from "
            "operators/timeseries.py::ts_series_catalog) or raise "
            "CATALOG_MAX_SERIES (series, devices) or WIDE_VIEW_MAX_FIELDS "
            "(transducers) deliberately"
        ))
        # a NULL device or transducer (a short topic that skipped
        # split_malformed) names nothing a statement can address
        return [v for v in vals if v is not None]

    def measurement_names(self) -> list[str]:
        return list(self._names)

    def frame(self, spark: SparkSession) -> DataFrame:
        return self._frame(self._read(spark))


class PointsCatalog(_PointsLake):
    """InfluxQL binding for the engine's OWN ingested narrow points
    table (``streaming/ingest.py::to_points`` output) — the reference
    loop closed end-to-end: MQTT → ingest → lake → InfluxQL. The
    narrow layout (influx_service.py:183-189) makes each ``series_id``
    a measurement with the single field ``value`` (the float branch of
    the union payload; non-float points carry NULL and drop out of
    numeric aggregates, matching InfluxDB's per-type field isolation).

    The measurement-name index is read once at construction (a
    distinct over the pruned series_id column) — the warehouse-scale
    deployment feeds this from the series-catalog table
    (operators/timeseries.py::ts_series_catalog) instead of a scan.
    ``series_col='series_id'`` keeps raw per-point transforms on a
    partitioned window even though the layout has no queryable tags.
    """

    def __init__(
        self,
        spark: SparkSession,
        points_dir: str,
        names: list[str] | None = None,
    ):
        super().__init__(spark, points_dir)
        self.schema = MeasurementSchema(
            tags=[],
            fields=["value"],
            tiebreak="pid",
            series_col="series_id",
        )
        self._names = self._index(
            spark, names, "series_id", "series", CATALOG_MAX_SERIES
        )

    def _frame(self, pts: DataFrame) -> DataFrame:
        # deterministic per-row tiebreak: the row's full content hash
        pid = F.xxhash64(
            "series_id", "ts", "value_type",
            F.coalesce(F.col("value_str"), F.lit("")),
            F.coalesce(F.col("value_double"), F.lit(0.0)),
        )
        return pts.select(
            F.col("series_id").alias("measurement"),
            F.col("ts").alias("time"),
            F.col("value_double").alias("value"),
            pid.alias("pid"),
            "series_id",
        )


class WidePointsCatalog(_PointsLake):
    """The reference's SECOND stored layout (influx_service.py:
    191-197, the 'organized' form): measurement = ``device_id``, one
    FIELD per transducer. Bound as ``ingest.wide_view``'s pivot over
    the same narrow points lake — never a second physical copy. Field
    names are the transducer universe read once at construction, and
    ``wide_view``'s collision guards run on them there: a transducer
    that folds onto a fixed column (a device publishing 'TS') refuses
    construction instead of failing every statement; ``fields=`` is
    the remedy. ``series_col='device_id'`` keeps raw transforms
    partitioned (each device is one series).
    """

    def __init__(
        self,
        spark: SparkSession,
        points_dir: str,
        devices: list[str] | None = None,
        fields: list[str] | None = None,
    ):
        from ..streaming import ingest

        super().__init__(spark, points_dir)
        self._names = self._index(
            spark, devices, "device_id", "devices", CATALOG_MAX_SERIES
        )
        fields = self._index(
            spark, fields, "transducer", "transducers",
            ingest.WIDE_VIEW_MAX_FIELDS,
        )
        ingest.validate_wide_fields(fields)
        self.schema = MeasurementSchema(
            tags=[],
            fields=fields,
            tiebreak="pid",
            series_col="device_id",
        )

    def _frame(self, pts: DataFrame) -> DataFrame:
        from ..streaming.ingest import wide_view

        fields = self.schema.fields
        return wide_view(pts, fields).select(
            F.col("device_id").alias("measurement"),
            F.col("ts").alias("time"),
            *fields,
            F.xxhash64("device_id", "ts").alias("pid"),
            "device_id",
        )


def events_points(ev: DataFrame) -> DataFrame:
    """events-shaped rows → the catalog layout (measurement, time, tag
    ``user_id``, field ``value``, tiebreak ``event_id``): the one
    mapping of the fixture ``events`` table, shared by
    :class:`EventsCatalog` and the streaming CQ's micro-batches."""
    return ev.select(
        F.col("event_type").alias("measurement"),
        F.col("ts").alias("time"),
        "user_id",
        "value",
        "event_id",
    )


class EventsCatalog:
    """Default binding of the fixture ``events`` table to the InfluxQL
    data model: measurement = ``event_type`` value, ``time`` = ``ts``,
    one tag (``user_id``), one field (``value``), tiebreak
    ``event_id``. A production deployment supplies its own catalog
    mapping measurements to the narrow points table partitions —
    measurement pruning then becomes parquet partition pruning.
    """

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.schema = MeasurementSchema(
            tags=["user_id"], fields=["value"], tiebreak="event_id"
        )

    # Known measurement names (static: the fixtures' event_type domain).
    MEASUREMENTS = ["click", "error", "purchase", "signup", "view"]

    def measurement_names(self) -> list[str]:
        return list(self.MEASUREMENTS)

    def frame(self, spark: SparkSession) -> DataFrame:
        return events_points(load_table(spark, self.sf_dir, "events"))


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

_SIMPLE_AGGS = {"COUNT", "SUM", "MIN", "MAX", "SPREAD", "STDDEV", "MEAN", "MODE"}
_RANK_AGGS = {"MEDIAN", "PERCENTILE", "FIRST", "LAST"}
# InfluxQL 1.x "technical analysis" family, in deterministic
# order-free forms (each documented where it deviates from InfluxDB's
# recursive definition):
#   EXPONENTIAL_MOVING_AVERAGE(x, N) — truncated-renormalized EWMA
#     with alpha = 2/(N+1) over the last EMA_TRUNC_K inputs (pandas
#     ewm adjust=True over a bounded tail; the ts_ewma discipline —
#     an infinite recurrence can't ride a window frame, and the
#     bounded-state form is what a streaming engine computes anyway).
#     Emits from the first point (renormalized warm-up).
#   CHANDE_MOMENTUM_OSCILLATOR(x, N) — 100·(ΣU−ΣD)/(ΣU+ΣD) over the
#     last N changes; emitted only once the window holds N changes.
#   RELATIVE_STRENGTH_INDEX(x, N) — Cutler's RSI (simple averages,
#     order-free): 100·ΣU/(ΣU+ΣD) over the last N changes. Wilder's
#     recursive smoothing is deliberately not offered (same reason as
#     the EWMA truncation).
#   KAUFMANS_EFFICIENCY_RATIO(x, N) — |x_t − x_{t−N}| / Σ|Δx|.
# CMO/RSI/KER ride the repo's exact-integer discipline: inputs are
# 6-decimal values (field fixtures are 2-decimal; MEAN output is
# round(·,6)), scaled by 1e6 to exact longs, every sum integer, ONE
# double division at the end, round(·,6) — bit-identical to the
# DuckDB oracle with no summation-order hazard. A flat window
# (ΣU+ΣD = 0) emits NULL.
# NOT offered, by design: KAUFMANS_ADAPTIVE_MOVING_AVERAGE — its
# smoothing factor depends on the running efficiency ratio, so no
# bounded window fold reproduces it (a deviating "KAMA" would
# silently mislead a migrating dashboard; an unsupported-function
# error is the honest surface). Wilder-smoothed RSI IS a constant-α
# recursion and could ride the truncated fold, but its float-power
# weights would break the exact-integer discipline AND the truncated
# form deviates from InfluxDB's SMA-seeded recursion anyway — so RSI
# here is Cutler's exactly-computable variant, documented above.
#   DOUBLE_/TRIPLE_EXPONENTIAL_MOVING_AVERAGE and
#   TRIPLE_EXPONENTIAL_DERIVATIVE (TRIX, in percent) compose the EMA
#   kernel: DEMA = 2·e1 − e2, TEMA = 3·e1 − 3·e2 + e3, TRIX =
#   100·Δe3/lag(e3). Each EMA stage rounds to 6 decimals before the
#   next consumes it, so the composition arithmetic runs on exact
#   6-decimal doubles — deterministic across engines.
_TA_EMA_STAGES = {
    "DOUBLE_EXPONENTIAL_MOVING_AVERAGE": 2,
    "TRIPLE_EXPONENTIAL_MOVING_AVERAGE": 3,
    "TRIPLE_EXPONENTIAL_DERIVATIVE": 3,
}
_TA_FUNCS = (
    "EXPONENTIAL_MOVING_AVERAGE",
    "CHANDE_MOMENTUM_OSCILLATOR",
    "RELATIVE_STRENGTH_INDEX",
    "KAUFMANS_EFFICIENCY_RATIO",
    *_TA_EMA_STAGES,
)
EMA_TRUNC_K = 64  # (1-alpha)^64 < 1e-8 for every N <= 51
_TA_SCALE = 1_000_000

# The InfluxQL 1.x scalar math family (ABS..ROUND handled explicitly
# in _scalar; the rest map 1:1 onto JVM-side column functions).
_TRANSCENDENTALS = {
    "SIN": F.sin,
    "COS": F.cos,
    "TAN": F.tan,
    "ASIN": F.asin,
    "ACOS": F.acos,
    "ATAN": F.atan,
    "EXP": F.exp,
    "LN": F.log,  # single-arg F.log is the natural log
    "LOG2": F.log2,
    "LOG10": F.log10,
}
_SCALAR_FUNCS = (
    "ABS", "ROUND", "CEIL", "FLOOR", "SQRT",
    "ATAN2", "POW", "LOG", *_TRANSCENDENTALS,
)

_TRANSFORMS = {
    "DERIVATIVE",
    "DIFFERENCE",
    "NON_NEGATIVE_DERIVATIVE",
    "NON_NEGATIVE_DIFFERENCE",
    "CUMULATIVE_SUM",
    "MOVING_AVERAGE",
    *_TA_FUNCS,
}


def _ta_n(e: "Call") -> int:
    """Validate and return the period argument of a TA call."""
    if len(e.args) < 2 or not isinstance(e.args[1], Num) or not e.args[1].is_int:
        raise InfluxQLError(f"{e.func}(x, N) needs an integer N")
    n = int(e.args[1].value)
    if n < 1:
        raise InfluxQLError(f"{e.func}: N must be >= 1")
    return n


def _ta_list(func: str, n: int, src: Column, w) -> Column:
    """The ordered per-series value window a TA transform folds over:
    raw doubles for EMA, exact 1e6-scaled longs for CMO/RSI/KER
    (the scaled values are integers exactly, so round() never sits on
    a .5 boundary). NOTE collect_list skips NULLs (Spark) while
    DuckDB's list() keeps them — oracles filter NULL inputs
    identically (the ts_ewma precedent; fixtures carry none)."""
    if func == "EXPONENTIAL_MOVING_AVERAGE":
        return F.collect_list(src).over(w.rowsBetween(-(EMA_TRUNC_K - 1), 0))
    scaled = F.round(src * _TA_SCALE).cast("long")
    return F.collect_list(scaled).over(w.rowsBetween(-n, 0))


def _ta_fold(func: str, n: int, lname: str) -> Column:
    """Fold the materialized list column into the TA value. Every
    arithmetic step happens in the SAME order as the DuckDB oracle
    (ascending window index), so doubles agree bit-for-bit where the
    inputs are exact."""
    l = lname
    if func == "EXPONENTIAL_MOVING_AVERAGE":
        a = 2.0 / (n + 1)
        b = repr(1.0 - a)  # shortest round-trip literal: the oracle
        # parses the identical literal to the identical double
        return F.expr(
            f"round(aggregate(transform({l}, (x, i) ->"
            f" x * pow({b}D, size({l}) - 1 - i)),"
            f" 0D, (acc, x) -> acc + x)"
            f" / ((1D - pow({b}D, size({l}))) / {a!r}D), 6) + 0D"
        )
    diffs = (
        f"transform(sequence(1, size({l}) - 1),"
        f" i -> element_at({l}, i + 1) - element_at({l}, i))"
    )
    up = f"aggregate({diffs}, 0L, (acc, x) -> acc + greatest(x, 0L))"
    tot = f"aggregate({diffs}, 0L, (acc, x) -> acc + abs(x))"
    full = f"size({l}) = {n + 1}"
    if func == "CHANDE_MOMENTUM_OSCILLATOR":
        # ΣU − ΣD = 2·ΣU − Σ|Δ| and ΣU + ΣD = Σ|Δ|: one fold fewer
        val = f"round(100D * (2 * {up} - {tot}) / {tot}, 6) + 0D"
    elif func == "RELATIVE_STRENGTH_INDEX":
        val = f"round(100D * {up} / {tot}, 6) + 0D"
    else:  # KAUFMANS_EFFICIENCY_RATIO
        net = f"abs(element_at({l}, size({l})) - element_at({l}, 1))"
        val = f"round({net} / (1D * {tot}), 6) + 0D"
    return F.expr(f"CASE WHEN {full} AND {tot} > 0 THEN {val} END")


def _ta_compose(func: str, es: list[Column], w) -> Column:
    """Combine materialized EMA stage columns into DEMA/TEMA/TRIX.
    Every input is already rounded to 6 decimals, so the combination
    is a handful of IEEE ops on identical doubles in both engines."""
    if func == "DOUBLE_EXPONENTIAL_MOVING_AVERAGE":
        return F.round(2 * es[0] - es[1], 6) + F.lit(0.0)
    if func == "TRIPLE_EXPONENTIAL_MOVING_AVERAGE":
        return F.round(3 * es[0] - 3 * es[1] + es[2], 6) + F.lit(0.0)
    # TRIX: one-period percent change of the triple-smoothed series
    prev = F.lag(es[-1]).over(w)
    return F.round(F.lit(100.0) * (es[-1] - prev) / prev, 6) + F.lit(0.0)


# TA funcs that emit from the very first point (renormalized warm-up)
# — everything else warms up to NULL and InfluxQL drops the point in
# the raw path.
_TA_EMIT_FIRST = (
    "EXPONENTIAL_MOVING_AVERAGE",
    "DOUBLE_EXPONENTIAL_MOVING_AVERAGE",
    "TRIPLE_EXPONENTIAL_MOVING_AVERAGE",
)
# The running transforms: each path lowers them with its own exact
# arithmetic (cents on raw points, round(·,6) on aggregates).
_RUNNING = ("CUMULATIVE_SUM", "MOVING_AVERAGE")
# Per-series window functions over raw points (_compile_raw)
_RAW_WINDOW_FUNCS = {"ELAPSED", *_TRANSFORMS}
# INTEGRAL is an aggregate whose per-row term needs a lag window over
# the group's points BEFORE the groupBy (trapezoid vs the previous
# point) — precomputed in _compile_agg like the FIRST/LAST rank columns.
_WINDOW_AGGS = {"INTEGRAL"}
_AGG_FUNCS = _SIMPLE_AGGS | _RANK_AGGS | _WINDOW_AGGS


def _is_agg(e) -> bool:
    if isinstance(e, Call):
        if e.func in _TRANSFORMS:
            return True
        return e.func in _AGG_FUNCS
    if isinstance(e, Bin):
        return _is_agg(e.left) or _is_agg(e.right)
    return False


def _is_raw_transform(e, st: "Select") -> bool:
    """A _TRANSFORMS call over a RAW field reference with no GROUP BY
    time() — InfluxQL's point-to-point forms (DERIVATIVE, DIFFERENCE,
    CUMULATIVE_SUM, MOVING_AVERAGE), compiled as per-series windows in
    the raw path (like ELAPSED) instead of the bucket-transform path."""
    return (
        st.group_time_ns is None
        and isinstance(e, Call)
        and e.func in _TRANSFORMS
        and bool(e.args)
        and isinstance(e.args[0], Var)
    )


def _unit_ns(c: Call, default: int = 1_000_000_000) -> int:
    """The optional duration-unit argument of DERIVATIVE, ELAPSED and
    INTEGRAL (``f(x, 1m)``), in ns."""
    return c.args[1].ns if len(c.args) > 1 and isinstance(c.args[1], Dur) else default


def _floor_us(us: Column, iv_us: int, off_us: int) -> Column:
    """Exact integer floor of epoch-µs ``us`` to the start of its
    ``GROUP BY time(iv, offset)`` bucket (no double division)."""
    s = us - F.lit(off_us)
    return s - s % F.lit(iv_us) + F.lit(off_us)


def time_bucket(
    time: Column, group_time_ns: int, offset_ns: int = 0, tz: str | None = None
) -> Column:
    """The start of the ``GROUP BY time(iv[, offset]) TZ()`` bucket
    holding ``time`` — the one bucket every SELECT shape and every
    continuous query groups by. TZ('zone') floors the zone-shifted
    timestamp, then shifts the bucket start back to its UTC instant;
    from_/to_utc_timestamp consult the IANA tzdb, so DST transitions
    move the boundary with the wall clock (pinned in
    tests/test_influxql.py)."""
    local = F.from_utc_timestamp(time, tz) if tz else time
    start = F.timestamp_micros(
        _floor_us(F.unix_micros(local), group_time_ns // 1000, offset_ns // 1000)
    )
    return F.to_utc_timestamp(start, tz) if tz else start


def _series_transform(
    df: DataFrame, e: Call, src: Column, w
) -> tuple[DataFrame, Column]:
    """Lower one point-to-point transform of the ordered series ``src``
    over the per-series window ``w``: DIFFERENCE, DERIVATIVE (Δvalue /
    Δtime-in-units, default 1s), their NON_NEGATIVE_ forms and the
    technical-analysis family. Raw points and bucketed aggregates both
    lower through here. The TA value frames (and DEMA/TEMA/TRIX's EMA
    stages) ride ``df`` as ``_ta_*`` columns; the returned column reads
    them, so the caller materializes it before the next call."""
    base = e.func.replace("NON_NEGATIVE_", "")
    if base == "DIFFERENCE":
        # single IEEE subtraction of identical doubles — deterministic
        # without rounding
        col = src - F.lag(src).over(w)
    elif base == "DERIVATIVE":
        us = F.unix_micros(F.col("time"))
        dt_units = (us - F.lag(us).over(w)) / F.lit(_unit_ns(e) / 1000.0)
        col = F.round((src - F.lag(src).over(w)) / dt_units, 6)
    elif e.func in _TA_EMA_STAGES:
        # DEMA/TEMA/TRIX chain the EMA kernel through materialized
        # stage columns (a window cannot read a window in one projection)
        n, es, ema = _ta_n(e), [], "EXPONENTIAL_MOVING_AVERAGE"
        for s in range(_TA_EMA_STAGES[e.func]):
            df = df.withColumn(f"_ta_l{s}", _ta_list(ema, n, src, w))
            df = df.withColumn(f"_ta_e{s}", _ta_fold(ema, n, f"_ta_l{s}"))
            src = F.col(f"_ta_e{s}")
            es.append(src)
        return df, _ta_compose(e.func, es, w)
    else:  # EMA / CMO / RSI / KER: fold the per-series value frame
        n = _ta_n(e)
        df = df.withColumn("_ta_l", _ta_list(e.func, n, src, w))
        return df, _ta_fold(e.func, n, "_ta_l")
    if e.func.startswith("NON_NEGATIVE_"):
        # InfluxQL omits negative results: NULL here, and each path
        # drops or keeps the row by its own first-point rule
        col = F.when(col >= 0, col)
    return df, col


def _eval_time(v, now) -> "datetime.datetime":
    """Evaluate a time-bound expression to a concrete instant on the
    driver: timestamp strings, bare epoch-ns integers, ``now()`` (from
    the compiler's injectable clock), and ``now() ± <dur>``
    arithmetic. The result is embedded as a LITERAL in the plan, so
    relative bounds still push down into the scan."""
    if isinstance(v, Str):
        try:
            return datetime.datetime.fromisoformat(v.value)
        except ValueError as exc:
            raise InfluxQLError(f"bad timestamp literal {v.value!r}") from exc
    if isinstance(v, Num):  # bare integer epoch-ns (InfluxQL default)
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=int(v.value) // 1000
        )
    if isinstance(v, Dur):
        # '<epoch>ns' lexes as a duration token; as a standalone time
        # bound it IS the epoch instant (1700000000000000000ns)
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=v.ns // 1000
        )
    if isinstance(v, Call) and v.func == "NOW":
        if now is None:
            raise InfluxQLError(
                "now() used but no clock given — pass now= to influxql()"
            )
        return now
    if isinstance(v, Bin) and v.op in ("+", "-"):
        base = _eval_time(v.left, now)
        if not isinstance(v.right, Dur):
            raise InfluxQLError("time arithmetic needs a duration literal")
        delta = datetime.timedelta(microseconds=v.right.ns // 1000)
        return base + delta if v.op == "+" else base - delta
    raise InfluxQLError(f"cannot use {v!r} as a time bound")


class _Compiler:
    def __init__(self, spark: SparkSession, catalog, stmt: Select, now=None):
        self.spark = spark
        self.catalog = catalog
        self.stmt = stmt
        self.now = now
        self.schema: MeasurementSchema = catalog.schema
        # per-source shape; _source overrides these for subqueries
        self.src_tags = list(self.schema.tags)
        self.src_fields = list(self.schema.fields)
        self.tiebreak = [self.schema.tiebreak]
        self.time_lo = None  # python literals for fill spine
        self.time_hi = None
        self.lo_incl = True
        self.hi_incl = False
        # per-statement cache for the unpartitionable-raw-window probe
        # (one bounded scan per statement, not per transform field)
        self._raw_probe_exceeds: bool | None = None

    # -- source ------------------------------------------------------------
    def _source(self) -> tuple[DataFrame, bool]:
        ms = self.stmt.measurements
        if any(isinstance(m, Select) for m in ms):
            if len(ms) != 1:
                raise InfluxQLError("a subquery must be the only FROM source")
            return self._subquery_source(ms[0]), False
        names, multi = resolve_from(self.catalog, ms)
        return measurement_points(self.spark, self.catalog, names), multi

    def _subquery_source(self, inner_stmt: Select) -> DataFrame:
        """Compile the inner SELECT and present its result as this
        query's source relation: inner GROUP BY tags stay tags, inner
        output values become fields, and — since the inner result has
        no per-point tiebreak column — rank-selection aggregates break
        ties on (time, tags), which is the inner result's primary key.
        One lazy plan end to end: Catalyst sees through the nesting
        (column pruning reaches the inner scan)."""
        inner = _Compiler(self.spark, self.catalog, inner_stmt, now=self.now)
        df = inner.compile()
        tags = list(inner_stmt.group_tags)
        if tags == ["*"]:
            tags = list(self.schema.tags)
        self.src_tags = tags
        self.src_fields = [
            c for c in df.columns if c not in tags and c != "time"
        ]
        self.tiebreak = [t for t in ["time", *tags]]
        return df

    # -- WHERE -------------------------------------------------------------
    def _cond(self, e, note: bool = True) -> Column:
        """``note=True`` only along the top-level AND spine: a time
        bound inside an OR branch does NOT constrain the whole result,
        so harvesting it for fill()'s spine would silently drop real
        buckets outside that branch's range."""
        if isinstance(e, Bin):
            if e.op == "AND":
                return self._cond(e.left, note) & self._cond(e.right, note)
            if e.op == "OR":
                return self._cond(e.left, False) | self._cond(e.right, False)
            if e.op in ("=~", "!~"):
                if not isinstance(e.left, Var):
                    raise InfluxQLError("regex match needs a tag on the left")
                c = F.col(e.left.name).cast("string").rlike(e.right.pattern)
                return c if e.op == "=~" else ~c
            lt, rt = e.left, e.right
            time_side = isinstance(lt, Var) and lt.name.lower() == "time"
            if time_side:
                lc = F.col("time")
                dt = _eval_time(rt, self.now)
                rc = F.lit(dt.strftime("%Y-%m-%d %H:%M:%S.%f")).cast(
                    "timestamp"
                )
                if note:
                    self._note_time_bound(e.op, dt)
            else:
                lc = self._scalar(lt)
                rc = self._scalar(rt)
            ops = {
                "=": lambda a, b: a == b,
                "!=": lambda a, b: a != b,
                "<>": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                "<=": lambda a, b: a <= b,
                ">": lambda a, b: a > b,
                ">=": lambda a, b: a >= b,
            }
            if e.op not in ops:
                raise InfluxQLError(f"unsupported predicate op {e.op}")
            return ops[e.op](lc, rc)
        raise InfluxQLError(f"unsupported WHERE expression {e!r}")

    def _note_time_bound(self, op: str, dt) -> None:
        lit = dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        if op in (">", ">="):
            self.time_lo, self.lo_incl = lit, op == ">="
        elif op in ("<", "<="):
            self.time_hi, self.hi_incl = lit, op == "<="

    # -- scalar expressions (non-aggregate context) ------------------------
    def _scalar(self, e) -> Column:
        if isinstance(e, Var):
            if e.name == "*":
                raise InfluxQLError("wildcard not valid here")
            return F.col("time") if e.name.lower() == "time" else F.col(e.name)
        if isinstance(e, Num):
            return F.lit(int(e.value)) if e.is_int else F.lit(e.value)
        if isinstance(e, Str):
            return F.lit(e.value)
        if isinstance(e, Bin):
            l, r = self._scalar(e.left), self._scalar(e.right)
            return {
                "+": l + r,
                "-": l - r,
                "*": l * r,
                "/": l / r,
                "%": l % r,
            }[e.op]
        if isinstance(e, Call):
            if e.func in _SCALAR_FUNCS and not e.args:
                raise InfluxQLError(f"{e.func} needs an argument")
            if e.func == "ABS":
                return F.abs(self._scalar(e.args[0]))
            # CEIL/FLOOR/SQRT are IEEE-exact (sqrt is correctly
            # rounded), so they keep the cross-engine hash discipline
            # unconditionally.
            if e.func == "CEIL":
                return F.ceil(self._scalar(e.args[0])).cast("double")
            if e.func == "FLOOR":
                return F.floor(self._scalar(e.args[0])).cast("double")
            if e.func == "SQRT":
                return F.sqrt(self._scalar(e.args[0]))
            if e.func == "ROUND":
                nd = 0
                if len(e.args) > 1:
                    if not isinstance(e.args[1], Num):
                        raise InfluxQLError("ROUND(x, N) needs an integer N")
                    nd = int(e.args[1].value)
                return F.round(self._scalar(e.args[0]), nd)
            # libm transcendentals (the rest of the InfluxQL 1.x math
            # family). These are NOT guaranteed correctly-rounded, so
            # engine pairs can differ in the last ulp — but the hash
            # discipline rounds floats to 6 decimals, and at the
            # moderate magnitudes these produce (|y| ≲ 1e6) an ulp is
            # ~1e-10: a mismatch needs the true value within 1e-10 of
            # a 0.5e-6 rounding boundary. Registered entries keep
            # argument magnitudes moderate; EXP of a large field is
            # the caller's foot-gun (documented, not forbidden).
            if e.func in _TRANSCENDENTALS:
                return _TRANSCENDENTALS[e.func](self._scalar(e.args[0]))
            if e.func == "ATAN2":
                if len(e.args) < 2:
                    raise InfluxQLError("ATAN2(y, x) needs two arguments")
                return F.atan2(self._scalar(e.args[0]), self._scalar(e.args[1]))
            if e.func == "POW":
                if len(e.args) < 2:
                    raise InfluxQLError("POW(x, y) needs two arguments")
                return F.pow(self._scalar(e.args[0]), self._scalar(e.args[1]))
            if e.func == "LOG":
                # InfluxQL LOG(x, b): logarithm of x in base b
                if len(e.args) < 2:
                    raise InfluxQLError("LOG(x, b) needs two arguments")
                return F.log(self._scalar(e.args[0])) / F.log(
                    self._scalar(e.args[1])
                )
            raise InfluxQLError(f"unsupported scalar function {e.func}")
        raise InfluxQLError(f"unsupported expression {e!r}")

    # -- aggregate compilation --------------------------------------------
    def _field_name(self, f: Field, i: int) -> str:
        if f.alias:
            return f.alias
        e = f.expr
        if isinstance(e, Call):
            return e.func.lower()  # derivative(mean(value)) -> 'derivative'
        if isinstance(e, Var):
            return e.name
        return f"expr_{i}"

    def _field_names(self) -> list[str]:
        """Output name per field, de-duplicated the way InfluxQL does
        (mean, mean_1, mean_2 ...) so two unaliased aggregates of the
        same function stay distinguishable and fill()'s withColumn
        never hits an ambiguous reference."""
        names: list[str] = []
        seen: dict[str, int] = {}
        for i, f in enumerate(self.stmt.fields):
            base = self._field_name(f, i)
            n = seen.get(base, 0)
            seen[base] = n + 1
            names.append(base if n == 0 else f"{base}_{n}")
        return names

    def _bucketed(self, df: DataFrame, keys: list[str]) -> tuple[DataFrame, list[str]]:
        """With GROUP BY time(): ``df`` plus its ``_bucket`` start
        (:func:`time_bucket`) and the group columns ``keys + _bucket``;
        without it, ``df`` and ``keys``."""
        st = self.stmt
        if st.group_time_ns is None:
            return df, list(keys)
        bucket = time_bucket(F.col("time"), st.group_time_ns, st.offset_ns, st.tz)
        return df.withColumn("_bucket", bucket), [*keys, "_bucket"]

    def compile(self) -> DataFrame:
        st = self.stmt
        df, multi = self._source()
        if st.where is not None:
            df = df.filter(self._cond(st.where))

        group_tags = st.group_tags
        if group_tags == ["*"]:
            group_tags = list(self.src_tags)
        keys = (["measurement"] if multi else []) + group_tags

        if st.tz and st.group_time_ns is None:
            raise InfluxQLError("TZ() requires GROUP BY time()")
        bare_sel = self._selector_bare_shape()
        if (
            len(st.fields) == 1
            and isinstance(st.fields[0].expr, Call)
            and st.fields[0].expr.func in ("TOP", "BOTTOM", "SAMPLE")
        ):
            out = self._compile_top_bottom(df, keys)
        elif (
            len(st.fields) == 1
            and isinstance(st.fields[0].expr, Call)
            and st.fields[0].expr.func == "DISTINCT"
        ):
            out = self._compile_distinct(df, keys)
        elif (
            len(st.fields) == 1
            and isinstance(st.fields[0].expr, Call)
            and st.fields[0].expr.func == "HOLT_WINTERS"
        ):
            out = self._compile_holt_winters(df, keys)
        elif bare_sel is not None:
            out = self._compile_selector_bare(df, keys, multi, bare_sel)
        elif any(
            _is_agg(f.expr) and not _is_raw_transform(f.expr, st)
            for f in st.fields
        ):
            out = self._compile_agg(df, keys, multi)
        else:
            out = self._compile_raw(df, multi, keys)

        if st.order_desc:
            out = out.orderBy(F.col("time").desc()) if "time" in out.columns else out
        elif "time" in out.columns:
            out = out.orderBy("time")
        if (st.slimit is not None or st.soffset) and group_tags:
            # SLIMIT/SOFFSET paginate over SERIES (tag combinations),
            # ranked in tag order; SOFFSET skips the first n series the
            # way OFFSET skips points (InfluxQL 1.x data-exploration
            # docs). The distinct tag set is dimension-sized, so the
            # rank window and broadcast join never touch point volume.
            wr = Window.orderBy(*[F.col(t) for t in group_tags])
            lo = st.soffset or 0
            rank = F.dense_rank().over(wr)
            keep = rank > lo if st.slimit is None else (
                (rank > lo) & (rank <= lo + st.slimit)
            )
            series = (
                out.select(*group_tags)
                .distinct()
                .withColumn("_skeep", keep)
                .filter(F.col("_skeep"))
                .drop("_skeep")
            )
            out = out.join(F.broadcast(series), group_tags)
        # InfluxQL's response is organized per SERIES, and in a
        # tag-grouped statement LIMIT/OFFSET paginate each series'
        # points independently (docs: "GROUP BY * LIMIT 3" → 3 rows
        # per series); only an ungrouped statement paginates globally.
        tcols = [t for t in group_tags if t in out.columns]
        if (st.offset or st.limit is not None) and tcols:
            if "time" not in out.columns:
                if st.offset:
                    raise InfluxQLError(
                        "OFFSET requires a time-ordered result"
                    )
                # Time-less grouped aggregate: exactly one row per
                # series, so per-series LIMIT is a no-op — keep the
                # pre-pagination global-limit behavior.
                return out.limit(st.limit)
            w = Window.partitionBy(*tcols).orderBy(
                F.col("time").desc() if st.order_desc else F.col("time")
            )
            lo = st.offset or 0
            hi = F.lit(lo + st.limit) if st.limit is not None else None
            out = out.withColumn("_rn", F.row_number().over(w)).filter(
                (F.col("_rn") > lo)
                & (F.col("_rn") <= hi if hi is not None else F.lit(True))
            ).drop("_rn")
            return out
        if st.offset:
            if "time" not in out.columns:
                raise InfluxQLError("OFFSET requires a time-ordered result")
            w = Window.orderBy(
                F.col("time").desc() if st.order_desc else F.col("time")
            )
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > st.offset)
                .drop("_rn")
            )
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    # Selector + bare fields — SELECT MAX(value), <tag|field>... :
    # InfluxQL returns the SELECTED POINT's row (its time, the selector
    # value, and the other columns at that point), one per group.
    _BARE_SELECTORS = {"MAX", "MIN", "FIRST", "LAST"}

    def _selector_bare_shape(self) -> Call | None:
        """The mixed field list this path serves: exactly ONE selector
        call over a field reference, every other field a bare tag/field
        name (not ``*``). Returns the selector call, else None."""
        sels = [
            f.expr
            for f in self.stmt.fields
            if isinstance(f.expr, Call) and f.expr.func in self._BARE_SELECTORS
        ]
        bares = [
            f.expr
            for f in self.stmt.fields
            if isinstance(f.expr, Var) and f.expr.name != "*"
        ]
        if (
            len(sels) == 1
            and sels[0].args
            and isinstance(sels[0].args[0], Var)
            and bares
            and len(sels) + len(bares) == len(self.stmt.fields)
        ):
            return sels[0]
        return None

    def _compile_selector_bare(
        self, df: DataFrame, keys: list[str], multi: bool, call: Call
    ) -> DataFrame:
        st = self.stmt
        fld = call.args[0].name
        tb = [t for t in self.tiebreak if t in df.columns]
        df, gcols = self._bucketed(df, keys)  # keys already carries measurement
        if call.func == "MAX":
            order = [F.col(fld).desc(), F.col("time").asc()]
        elif call.func == "MIN":
            order = [F.col(fld).asc(), F.col("time").asc()]
        elif call.func == "FIRST":
            order = [F.col("time").asc()]
        else:  # LAST
            order = [F.col("time").desc()]
        order += (
            [F.col(c).desc() for c in tb]
            if call.func == "LAST"
            else [F.col(c).asc() for c in tb]
        )
        if gcols:
            w = Window.partitionBy(*gcols).orderBy(*order)
            picked = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
            )
        else:
            # global selector: TakeOrdered (orderBy+limit), never a
            # single-partition WindowExec over the raw scan
            picked = df.orderBy(*order).limit(1)
        names = self._field_names()
        time_col = (
            F.col("_bucket") if st.group_time_ns is not None else F.col("time")
        )
        cols: list[Column] = [time_col.alias("time")]
        if multi:
            cols.append(F.col("measurement"))
        # GROUP BY tags ride along (series organization) unless the
        # field list already names them bare — SLIMIT/per-series
        # pagination in compile() selects these columns downstream.
        bare_named = {
            f.expr.name for f in st.fields if isinstance(f.expr, Var)
        }
        for k in keys:
            if (
                k != "measurement"
                and k in picked.columns
                and k not in bare_named
            ):
                cols.append(F.col(k))
        for i, f in enumerate(st.fields):
            e = f.expr
            if isinstance(e, Call):
                cols.append(F.col(fld).alias(names[i]))
            else:
                if e.name not in picked.columns:
                    raise InfluxQLError(f"unknown field or tag {e.name!r}")
                cols.append(F.col(e.name).alias(names[i]))
        return picked.select(*cols)

    # TOP/BOTTOM selectors — return the actual N extreme POINTS per
    # group (InfluxQL semantics: the point rows, point time preserved)
    def _compile_distinct(self, df: DataFrame, keys: list[str]) -> DataFrame:
        """``SELECT DISTINCT(field)`` — one row per distinct field value
        per group (InfluxQL's distinct-values selector, column named
        ``distinct``). With ``GROUP BY time()`` the bucket start is the
        row's time; ungrouped selects carry no time column (same
        convention as the scalar aggregates). Values are emitted in
        ascending order so the result is deterministic (InfluxDB's own
        order is storage-dependent). One hash aggregation — map-side
        combine collapses repeats before the shuffle, so the exchange
        carries at most |groups|×|distinct values| rows at any scale."""
        st = self.stmt
        e = st.fields[0].expr
        if len(e.args) != 1 or not isinstance(e.args[0], Var):
            raise InfluxQLError("DISTINCT expects one field reference")
        fld = e.args[0].name
        name = st.fields[0].alias or "distinct"
        df, gcols = self._bucketed(df, keys)
        out = (
            df.filter(F.col(fld).isNotNull())
            .select(*gcols, F.col(fld).alias(name))
            .distinct()
        )
        if "_bucket" in out.columns:
            out = out.withColumnRenamed("_bucket", "time")
            out = out.orderBy(*[c for c in gcols if c != "_bucket"], "time", name)
        else:
            out = out.orderBy(*gcols, name)
        return out

    def _compile_top_bottom(self, df: DataFrame, keys: list[str]) -> DataFrame:
        st = self.stmt
        call: Call = st.fields[0].expr
        a = call.args
        # TOP(field, tag, N) / BOTTOM(field, tag, N): the extreme value
        # for each of N distinct tag values (InfluxDB's per-tag form) —
        # rank within (group, tag) to find each tag's extreme point,
        # then rank those representatives within the group and keep N.
        tag = (
            a[1].name
            if len(a) == 3 and call.func != "SAMPLE" and isinstance(a[1], Var)
            else None
        )
        if (
            len(a) != (2 if tag is None else 3)
            or not isinstance(a[0], Var)
            or not isinstance(a[-1], Num)
        ):
            raise InfluxQLError(f"{call.func}(field, N) needs a field and an integer N")
        if tag is not None and tag not in df.columns:
            raise InfluxQLError(f"{call.func}: unknown tag {tag!r}")
        fld = a[0].name
        n = int(a[-1].value)
        name = st.fields[0].alias or call.func.lower()
        df, gcols = self._bucketed(df, keys)
        tb = [t for t in self.tiebreak if t in df.columns]
        if call.func == "SAMPLE":
            # InfluxQL SAMPLE(field, N) is a nondeterministic reservoir;
            # this engine makes it REPRODUCIBLE by ranking on the md5 of
            # the tiebreak key (same discipline as operators/timeseries.
            # ts_sample — a fixed keyed hash both engines compute
            # byte-identically), keeping the N smallest digests.
            if not tb:
                raise InfluxQLError("SAMPLE needs a tiebreak column")
            digest = F.md5(F.col(tb[0]).cast("string").cast("binary"))
            order = [digest.asc(), *[F.col(c) for c in tb]]
        else:
            order = [
                F.col(fld).desc() if call.func == "TOP" else F.col(fld).asc(),
                F.col("time"),
                *[F.col(c) for c in tb],
            ]
        if tag is not None:
            w_tag = Window.partitionBy(*gcols, tag).orderBy(*order)
            df = df.withColumn("_rt", F.row_number().over(w_tag)).filter(
                F.col("_rt") == 1
            )
        w = (
            Window.partitionBy(*gcols).orderBy(*order)
            if gcols
            else Window.orderBy(*order)
        )
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            # point time survives; the bucket is the grouping key
            .select(
                *gcols, "time", *([tag] if tag else []), F.col(fld).alias(name)
            )
        )
        if "_bucket" in out.columns:
            out = out.withColumnRenamed("_bucket", "bucket")
        return out

    # HOLT_WINTERS(agg(field), N, S) — Holt's linear-trend forecast of
    # the bucketed aggregate, N future buckets (S=0: non-seasonal).
    def _compile_holt_winters(self, df: DataFrame, keys: list[str]) -> DataFrame:
        st = self.stmt
        call: Call = st.fields[0].expr
        if (
            len(call.args) != 3
            or not isinstance(call.args[1], Num)
            or not isinstance(call.args[2], Num)
        ):
            raise InfluxQLError(
                "HOLT_WINTERS(agg(field), N, S) needs an aggregate, a "
                "forecast count and a seasonal pattern length"
            )
        inner = call.args[0]
        if not (isinstance(inner, Call) and inner.func in _AGG_FUNCS):
            raise InfluxQLError("HOLT_WINTERS wraps one aggregate")
        horizon = int(call.args[1].value)
        season = int(call.args[2].value)
        if season < 0:
            raise InfluxQLError("HOLT_WINTERS seasonal pattern must be >= 0")
        if st.group_time_ns is None:
            raise InfluxQLError("HOLT_WINTERS requires GROUP BY time()")
        name = st.fields[0].alias or "holt_winters"

        # bucketed aggregate of the inner call via the normal agg path
        sub = dc_replace(
            st, fields=[Field(inner, "_hw_in")], fill=None, order_desc=False,
            limit=None, offset=None, slimit=None, soffset=None, into=None,
        )
        agg_df = _Compiler(self.spark, self.catalog, sub, now=self.now).compile()
        kcols = [c for c in agg_df.columns if c not in ("time", "_hw_in")]

        # Same folds as operators/timeseries (cited there: the
        # recurrence is inherently sequential, so bound the series to
        # its buckets and fold the ARRAY — never iterate rows); S=0 is
        # Holt's linear trend (timeseries.hw_linear_fold), S>0 the
        # additive seasonal triple smoothing (hw_seasonal_fold). α=β(=γ)=0.5
        # exactly representable, raw doubles out.
        from ..operators.timeseries import hw_linear_fold, hw_seasonal_fold

        grouped = agg_df.groupBy(*kcols) if kcols else agg_df.groupBy(F.lit(1).alias("_g"))
        arrs = (
            grouped.agg(
                F.array_sort(
                    F.collect_list(F.struct("time", F.col("_hw_in")))
                ).alias("pts")
            )
            .select(
                *(kcols if kcols else []),
                F.transform(F.col("pts"), lambda s: s["_hw_in"]).alias("xs"),
                F.element_at(F.col("pts"), -1)["time"].alias("_last_t"),
            )
            .filter(F.size("xs") >= (season + 1 if season else 2))
        )
        xs = F.col("xs")
        fold = hw_seasonal_fold(xs, season) if season else hw_linear_fold(xs)
        fitted = arrs.select(
            *(kcols if kcols else []), "_last_t", fold.alias("_st")
        )
        iv_us = st.group_time_ns // 1000
        h = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("_h")
        lvl, tr = F.col("_st")["l"], F.col("_st")["b"]
        fc = lvl + F.col("_h").cast("double") * tr
        if season:
            fc = fc + F.element_at(
                F.col("_st")["seas"],
                ((F.col("_h") - 1) % season + 1).cast("int"),
            )
        return fitted.select(*(kcols if kcols else []), "_last_t", "_st", h).select(
            *(kcols if kcols else []),
            F.timestamp_micros(
                F.unix_micros(F.col("_last_t")) + F.col("_h") * F.lit(iv_us)
            ).alias("time"),
            fc.alias(name),
        )

    # raw (projection) select — no aggregates anywhere
    def _compile_raw(
        self, df: DataFrame, multi: bool, keys: list[str] | None = None
    ) -> DataFrame:
        # Per-series window transforms over RAW points: ELAPSED
        # (integer gap in truncating units, default 1ns), DERIVATIVE
        # (Δvalue / Δtime-in-units, default 1s), DIFFERENCE (Δvalue),
        # CUMULATIVE_SUM (running cents-exact sum), MOVING_AVERAGE
        # (N-row cents-exact mean). One window per series key each.
        # InfluxQL emits nothing for a series' first point under the
        # LAG transforms, so rows where EVERY lag column is NULL are
        # dropped; the running forms emit from the first point and
        # never force a drop.
        lag_names: list[str] = []
        names = self._field_names()
        for i, f in enumerate(self.stmt.fields):
            e = f.expr
            if not (isinstance(e, Call) and e.func in _RAW_WINDOW_FUNCS):
                continue
            if not e.args or not isinstance(e.args[0], Var):
                raise InfluxQLError(f"{e.func} expects a field reference")
            series = ([F.col("measurement")] if multi else []) + [
                F.col(t) for t in self.src_tags
            ]
            sc = self.schema.series_col
            if sc and sc in df.columns and sc not in self.src_tags:
                # untagged narrow layout: partition by the physical
                # series identity instead of one global sort
                series.append(F.col(sc))
            if not series:
                # truly unpartitionable — bounded probe, then refuse
                # above RAW_GLOBAL_WINDOW_MAX (the limit is pushed to
                # the scan, so the probe reads at most MAX+1 rows).
                # One probe per STATEMENT: the series key does not vary
                # across fields, so the result is cached on the
                # compiler instance and a multi-transform select scans
                # the probe rows once, not once per field.
                if self._raw_probe_exceeds is None:
                    self._raw_probe_exceeds = (
                        df.limit(RAW_GLOBAL_WINDOW_MAX + 1).count()
                        > RAW_GLOBAL_WINDOW_MAX
                    )
                if self._raw_probe_exceeds:
                    raise InfluxQLError(
                        f"{e.func} over an untagged measurement needs a "
                        "single global window and the relation exceeds "
                        f"{RAW_GLOBAL_WINDOW_MAX} points; declare "
                        "MeasurementSchema.series_col or add tags"
                    )
            tb = [t for t in self.tiebreak if t in df.columns]
            w = (
                Window.partitionBy(*series) if series else Window.partitionBy()
            ).orderBy("time", *tb)
            if e.func == "ELAPSED":
                us = F.unix_micros(F.col("time"))
                unit_ns = _unit_ns(e, default=1)
                elapsed_ns = (us - F.lag(us).over(w)) * F.lit(1000)
                # exact truncating division: subtract the remainder so
                # the double division is over an exact multiple (a bare
                # a/b cast could round up across an integer boundary)
                col = (
                    (elapsed_ns - elapsed_ns % F.lit(unit_ns))
                    / F.lit(unit_ns)
                ).cast("long")
            elif e.func in _RUNNING:
                # cents-exact running forms (the repo's order-free
                # integer discipline — see operators/timeseries.
                # ts_cumulative_sum): frame-bounded sums of exact
                # round(v·100) longs, one final division
                cents = F.round(F.col(e.args[0].name) * 100).cast("long")
                if e.func == "CUMULATIVE_SUM":
                    wc = w.rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                    col = F.sum(cents).over(wc) / F.lit(100.0)
                else:  # MOVING_AVERAGE(field, N)
                    if len(e.args) < 2 or not isinstance(e.args[1], Num):
                        raise InfluxQLError(
                            "MOVING_AVERAGE(field, N) needs an integer N"
                        )
                    n = int(e.args[1].value)
                    wm = w.rowsBetween(-(n - 1), Window.currentRow)
                    col = F.round(
                        F.sum(cents).over(wm)
                        / F.lit(100.0)
                        / F.count(cents).over(wm),
                        6,
                    )
            else:
                df, col = _series_transform(df, e, F.col(e.args[0].name), w)
            df = df.withColumn(f"_lag_{names[i]}", col)
            if e.func not in _RUNNING and e.func not in _TA_EMIT_FIRST:
                # first points, warm-up rows and omitted negatives emit
                # NULL: the all-null drop below removes them, matching
                # InfluxDB's emit-after-warm-up. EMA and the running
                # forms emit from the first point, so never force a drop.
                lag_names.append(names[i])
        cols: list[Column] = [F.col("time")]
        if multi:
            cols.append(F.col("measurement"))
        # GROUP BY <tag> on a raw select is InfluxQL's series
        # organization: the tag rides along as an output column (and
        # the per-series LIMIT/OFFSET pagination in compile() keys on
        # it). Tags already projected by a '*' field or named as a
        # bare field are not repeated (a duplicate column would make
        # the pagination window ambiguous).
        star = any(
            isinstance(f.expr, Var) and f.expr.name == "*"
            for f in self.stmt.fields
        )
        bare_named = {
            f.expr.name
            for f in self.stmt.fields
            if isinstance(f.expr, Var) and f.expr.name != "*"
        }
        for k in keys or []:
            if (
                k != "measurement"
                and k in df.columns
                and not star
                and k not in bare_named
            ):
                cols.append(F.col(k))
        for i, f in enumerate(self.stmt.fields):
            if isinstance(f.expr, Var) and f.expr.name == "*":
                for t in self.src_tags:
                    cols.append(F.col(t))
                for fld in self.src_fields:
                    cols.append(F.col(fld))
                continue
            if isinstance(f.expr, Call) and f.expr.func in _RAW_WINDOW_FUNCS:
                cols.append(F.col(f"_lag_{names[i]}").alias(names[i]))
                continue
            cols.append(self._scalar(f.expr).alias(names[i]))
        out = df.select(*cols)
        if lag_names:
            keep = None
            for n in lag_names:
                c = F.col(n).isNotNull()
                keep = c if keep is None else (keep | c)
            out = out.filter(keep)
        return out

    # aggregate select
    def _compile_agg(self, df: DataFrame, keys: list[str], multi: bool) -> DataFrame:
        st = self.stmt
        bucketed = st.group_time_ns is not None
        df, gcols = self._bucketed(df, keys)
        if not gcols:
            df = df.withColumn("_g", F.lit(1))
            gcols = ["_g"]

        # Pre-compute rank columns once if any rank-selection agg appears.
        needs = self._collect_calls()
        rank_cols: dict[str, Column] = {}
        tb = [t for t in self.tiebreak if t in df.columns]
        if any(c.func in ("FIRST",) for c in needs):
            w = Window.partitionBy(*gcols).orderBy("time", *tb)
            df = df.withColumn("_rn_first", F.row_number().over(w))
        if any(c.func in ("LAST",) for c in needs):
            w = Window.partitionBy(*gcols).orderBy(
                F.col("time").desc(), *[F.col(c).desc() for c in tb]
            )
            df = df.withColumn("_rn_last", F.row_number().over(w))
        pct_fields: set[str] = set()
        for c in needs:
            if c.func in ("MEDIAN", "PERCENTILE", "MODE"):
                if not c.args or not isinstance(c.args[0], Var):
                    raise InfluxQLError(f"{c.func} expects a field reference")
                pct_fields.add(c.args[0].name)
        # INTEGRAL: per-row trapezoid term vs the previous point of the
        # SAME group (so a bucketed integral sums intra-bucket
        # trapezoids only — gaps between buckets contribute nothing).
        # Exact-integer discipline (see operators/timeseries.ts_integral):
        # each term ×1000 rounds to an integer milli-unit, so the SUM is
        # order-insensitive long arithmetic.
        int_terms: set[tuple[str, int]] = set()
        for c in needs:
            if c.func == "INTEGRAL":
                if not c.args or not isinstance(c.args[0], Var):
                    raise InfluxQLError("INTEGRAL expects a field reference")
                int_terms.add((c.args[0].name, _unit_ns(c)))
        for fld, unit_ns in sorted(int_terms):
            w = Window.partitionBy(*gcols).orderBy("time", *tb)
            us = F.unix_micros(F.col("time"))
            prev_v = F.lag(F.col(fld)).over(w)
            prev_us = F.lag(us).over(w)
            term_milli = F.round(
                (F.col(fld) + prev_v)
                / 2.0
                * ((us - prev_us) / F.lit(unit_ns / 1000.0))
                * 1000.0
            ).cast("long")
            df = df.withColumn(f"_int_{fld}_{unit_ns}", term_milli)
        for fld in sorted(pct_fields):
            w = Window.partitionBy(*gcols).orderBy(fld, *tb)
            df = df.withColumn(f"_rnv_{fld}", F.row_number().over(w))
            df = df.withColumn(
                f"_nv_{fld}",
                F.count(F.lit(1)).over(Window.partitionBy(*gcols)),
            )

        aggs: list[Column] = []
        transforms: list[tuple[str, Call]] = []
        names = self._field_names()
        for i, f in enumerate(st.fields):
            name = names[i]
            e = f.expr
            if isinstance(e, Call) and e.func in _TRANSFORMS:
                if not bucketed:
                    raise InfluxQLError(f"{e.func} requires GROUP BY time()")
                # unwrap a transform CHAIN down to the base aggregate —
                # e.g. DIFFERENCE(CUMULATIVE_SUM(MEAN(v))) — applied
                # innermost-first over the same per-series bucket window
                chain = [e]
                inner = e.args[0] if e.args else None
                while isinstance(inner, Call) and inner.func in _TRANSFORMS:
                    chain.append(inner)
                    inner = inner.args[0] if inner.args else None
                if not (isinstance(inner, Call) and inner.func in _AGG_FUNCS):
                    raise InfluxQLError(
                        f"{e.func} wraps one aggregate (possibly through "
                        "nested transforms)"
                    )
                aggs.append(self._agg_col(inner, rank_cols).alias(f"_in_{name}"))
                transforms.append((name, chain))
            else:
                if not _is_agg(e):
                    raise InfluxQLError(
                        "cannot mix raw fields with aggregates"
                    )
                aggs.append(self._agg_expr(e, rank_cols).alias(name))

        out = df.groupBy(*gcols).agg(*aggs)
        if "_g" in out.columns:
            out = out.drop("_g")
        if bucketed:
            out = out.withColumnRenamed("_bucket", "time")

        # fill() — regenerate the bucket spine inside the WHERE bounds
        if bucketed and st.fill not in (None, "none"):
            out = self._apply_fill(out, keys, transforms)

        # bucket transforms ride a per-series window over the agg result
        for name, chain in transforms:
            wkeys = [k for k in (keys) if k in out.columns]
            w = Window.partitionBy(*wkeys).orderBy("time") if wkeys else Window.orderBy("time")
            # innermost transform first; each level materializes its
            # column so the next level's window reads a concrete input
            # (nested window expressions are illegal in one projection;
            # the levels share one partitioning, so the sort is reused)
            src_name = f"_in_{name}"
            for depth, e in enumerate(reversed(chain)):
                src = F.col(src_name)
                if e.func == "CUMULATIVE_SUM":
                    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                    col = F.round(F.sum(src).over(wc), 6)
                elif e.func == "MOVING_AVERAGE":
                    if len(e.args) < 2 or not isinstance(e.args[1], Num):
                        raise InfluxQLError(
                            "MOVING_AVERAGE(agg, N) needs an integer window N"
                        )
                    n = int(e.args[1].value)
                    wm = w.rowsBetween(-(n - 1), Window.currentRow)
                    col = F.round(F.sum(src).over(wm) / F.count(src).over(wm), 6)
                else:
                    out, col = _series_transform(out, e, src, w)
                last = depth == len(chain) - 1
                src_name = name if last else f"_t{depth}_{name}"
                out = out.withColumn(src_name, col)
                tmp = [c for c in out.columns if c.startswith("_ta_")]
                if tmp:
                    out = out.drop(*tmp)
            for depth in range(len(chain) - 1):
                out = out.drop(f"_t{depth}_{name}")
        for name, _ in transforms:
            out = out.drop(f"_in_{name}")
        return out

    def _collect_calls(self) -> list[Call]:
        calls: list[Call] = []

        def walk(e):
            if isinstance(e, Call):
                if e.func in _TRANSFORMS:
                    if e.args:
                        walk(e.args[0])
                else:
                    calls.append(e)
            elif isinstance(e, Bin):
                walk(e.left)
                walk(e.right)

        for f in self.stmt.fields:
            walk(f.expr)
        return calls

    def _agg_expr(self, e, rank_cols) -> Column:
        if isinstance(e, Call):
            return self._agg_col(e, rank_cols)
        if isinstance(e, Bin):
            l = self._agg_expr(e.left, rank_cols)
            r = self._agg_expr(e.right, rank_cols)
            return {"+": l + r, "-": l - r, "*": l * r, "/": l / r, "%": l % r}[e.op]
        if isinstance(e, Num):
            return F.lit(int(e.value)) if e.is_int else F.lit(e.value)
        raise InfluxQLError(f"unsupported aggregate expression {e!r}")

    def _agg_col(self, c: Call, rank_cols) -> Column:
        fn = c.func
        if not c.args:
            raise InfluxQLError(f"{fn} needs a field argument")
        if fn == "COUNT":
            a = c.args[0]
            if isinstance(a, Var) and a.name == "*":
                return F.count(F.lit(1))
            if isinstance(a, Call) and a.func == "DISTINCT":
                return F.countDistinct(F.col(a.args[0].name))
            return F.count(F.col(a.name))
        arg = c.args[0]
        if not isinstance(arg, Var):
            raise InfluxQLError(f"{fn} expects a field reference")
        col = F.col(arg.name)
        if fn == "SUM":
            # fixture fields are 2-decimal; rounding the sum to cents is
            # exact and order-insensitive (repo-wide hash discipline)
            return F.round(F.sum(col), 2)
        if fn == "MIN":
            return F.min(col)
        if fn == "MAX":
            return F.max(col)
        if fn == "SPREAD":
            return F.max(col) - F.min(col) + F.lit(0.0)
        if fn == "MEAN":
            return F.round(F.round(F.sum(col), 2) / F.count(col), 6)
        if fn == "STDDEV":
            return F.round(F.stddev(col), 4)
        if fn == "INTEGRAL":
            # InfluxDB reports 0 (not NULL) for a single-point group —
            # a lone point bounds zero area. NOTE a documented
            # deviation stays: a trapezoid segment spanning a bucket
            # boundary is dropped here, where InfluxDB splits its area
            # across the adjacent buckets (intra-bucket-only choice,
            # pinned in tests/test_influxql_negative.py).
            return F.coalesce(
                F.sum(F.col(f"_int_{arg.name}_{_unit_ns(c)}")) / 1000.0,
                F.lit(0.0),
            )
        if fn == "FIRST":
            return F.max(F.when(F.col("_rn_first") == 1, col))
        if fn == "LAST":
            return F.max(F.when(F.col("_rn_last") == 1, col))
        if fn in ("MEDIAN", "PERCENTILE", "MODE"):
            fld = arg.name
            rn = F.col(f"_rnv_{fld}")
            nv = F.col(f"_nv_{fld}")
            if fn == "MODE":
                # nearest-rank selection of the most frequent value is
                # not expressible as one conditional agg; handled by
                # operators/timeseries.py ts_mode — keep the compiler
                # surface honest.
                raise InfluxQLError("MODE: use the ts_mode operator")
            if fn == "MEDIAN":
                pct = 50
            else:
                if len(c.args) < 2 or not isinstance(c.args[1], Num):
                    raise InfluxQLError("PERCENTILE(field, N) needs an integer N")
                pct = int(c.args[1].value)
            idx = F.floor((F.lit(pct) * nv + 99) / 100).cast("long")
            return F.max(F.when(rn == idx, col))
        raise InfluxQLError(f"unsupported aggregate {fn}")

    # fill(): cross the observed series keys with the full bucket spine
    def _apply_fill(
        self, out: DataFrame, keys: list[str], transforms
    ) -> DataFrame:
        st = self.stmt
        if self.time_lo is None or self.time_hi is None:
            raise InfluxQLError("fill() requires WHERE time >= .. AND time < ..")
        if st.tz:
            # the spine below steps UTC instants; local-time buckets
            # would need a zone-aware spine (DST makes some local days
            # 23/25 h). Refuse rather than emit a subtly wrong spine.
            raise InfluxQLError("fill() with TZ() is not supported")
        iv_us = st.group_time_ns // 1000
        off_us = st.offset_ns // 1000
        lo = F.unix_micros(F.lit(self.time_lo).cast("timestamp"))
        # last bucket that can contain an in-range point (hi exclusive
        # unless the bound was <=)
        hi = F.unix_micros(F.lit(self.time_hi).cast("timestamp")) - (
            0 if self.hi_incl else 1
        )
        lo_us = _floor_us(lo, iv_us, off_us).cast("long")
        hi_us = _floor_us(hi, iv_us, off_us).cast("long")
        spine = self.spark.range(1).select(
            F.explode(
                F.sequence(lo_us, hi_us, F.lit(iv_us).cast("long"))
            ).alias("_us")
        ).select(F.timestamp_micros(F.col("_us")).alias("time"))
        kcols = [k for k in out.columns if k in keys]
        if kcols:
            series = out.select(*kcols).distinct()
            spine = series.crossJoin(F.broadcast(spine))
        filled = spine.join(out, on=kcols + ["time"], how="left")
        vcols = [c for c in out.columns if c not in kcols + ["time"]]
        if st.fill == "previous":
            w = (
                Window.partitionBy(*kcols).orderBy("time")
                if kcols
                else Window.orderBy("time")
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            for v in vcols:
                filled = filled.withColumn(
                    v, F.last(F.col(v), ignorenulls=True).over(w)
                )
        elif st.fill == "linear":
            # linear interpolation across interior gaps, leading and
            # trailing gaps stay NULL (InfluxQL semantics). Same
            # bracket-with-two-window-passes form as
            # operators/timeseries.ts_interpolate: nearest non-null
            # bucket on each side via last/first(ignorenulls) over
            # unbounded frames on the (spine-sized) result — never the
            # raw facts. Interpolated values are RAW doubles (+0.0
            # normalizes -0.0): the expression is a fixed IEEE
            # sequence written with identical association in the
            # oracle, hence bit-deterministic — while a final
            # round(x, 6) was the ONLY divergence source (engines
            # disagree on decimal-midpoint halves; at sf0.1 three
            # interpolated rows landed exactly on one — the
            # ts_holt_winters lesson, re-learned in r8's sf0.1 sweep).
            # Observed values pass through untouched.
            base = (
                Window.partitionBy(*kcols).orderBy("time")
                if kcols
                else Window.orderBy("time")
            )
            wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            us = F.unix_micros(F.col("time"))
            for v in vcols:
                at_val = F.when(F.col(v).isNotNull(), us)
                prev_v = F.last(F.col(v), ignorenulls=True).over(wb)
                next_v = F.first(F.col(v), ignorenulls=True).over(wf)
                prev_t = F.last(at_val, ignorenulls=True).over(wb)
                next_t = F.first(at_val, ignorenulls=True).over(wf)
                interp = (
                    prev_v
                    + (next_v - prev_v) * ((us - prev_t) / (next_t - prev_t))
                    + F.lit(0.0)
                )
                filled = filled.withColumn(
                    v,
                    F.when(F.col(v).isNotNull(), F.col(v))
                    .when(prev_v.isNull() | next_v.isNull(), F.lit(None).cast("double"))
                    .otherwise(interp),
                )
        elif isinstance(st.fill, float):
            for v in vcols:
                filled = filled.withColumn(
                    v, F.coalesce(F.col(v), F.lit(st.fill))
                )
        # 'null' keeps the left-join NULLs
        return filled


def _explain_df(spark: SparkSession, cat, stmt: Explain, now) -> DataFrame:
    """Lower EXPLAIN [ANALYZE] onto Spark's explain surface: the
    formatted lazy plan, or (ANALYZE) the AQE-executed plan with
    runtime metrics after one eager execution."""
    df = _Compiler(spark, cat, stmt.inner, now=now).compile()
    qe = df._jdf.queryExecution()
    if stmt.analyze:
        df.count()  # one execution materializes the runtime metrics
        text = qe.executedPlan().toString()
    else:
        text = qe.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    rows = [(i + 1, line) for i, line in enumerate(text.splitlines())]
    return spark.createDataFrame(rows, "line int, plan string")


# Statements that change state; the read entry points refuse them.
_MANAGEMENT_DDL = (
    RetentionPolicyStmt,
    CreateDatabase,
    DropSeries,
    KillQuery,
    ContinuousQuery,
    DropContinuousQuery,
    DropDatabase,
    DropShard,
)


def _clock(now):
    """The injectable ``now``: a datetime, or an ISO string parsed to
    one."""
    return datetime.datetime.fromisoformat(now) if isinstance(now, str) else now


def _read_statement(spark: SparkSession, cat, stmt, now, meta) -> DataFrame:
    """Compile one parsed read statement (EXPLAIN, SHOW, SELECT) — the
    dispatch :func:`influxql` and :func:`influxql_batch` share. A
    DELETE/DROP or management DDL is refused with a pointer at the
    entry point that applies it."""
    if isinstance(stmt, Delete):
        raise InfluxQLError(
            "DELETE/DROP is not a read statement — apply it with "
            "influxql_delete against a SnapshotTable"
        )
    if isinstance(stmt, _MANAGEMENT_DDL):
        raise InfluxQLError(
            "management DDL is not a read statement — apply it with "
            "influxql_admin (policies/databases/CQs/KILL QUERY) or "
            "influxql_drop_series"
        )
    if isinstance(stmt, Explain):
        # ANALYZE executes eagerly — the one statement that is not lazy
        return _explain_df(spark, cat, stmt, now)
    if isinstance(stmt, Show):
        if stmt.what == "queries":
            return show_queries(spark)
        return _compile_show(spark, cat, stmt, meta=meta, now=now)
    return _Compiler(spark, cat, stmt, now=now).compile()


def influxql(
    spark: SparkSession, sf_dir: str, query: str, catalog=None, now=None,
    meta=None,
) -> DataFrame:
    """Compile one InfluxQL statement against the fixture catalog (or a
    user-supplied one) and return the lazy DataFrame plan.

    ``now`` pins the clock ``now()`` evaluates against — a datetime or
    an ISO string. Always injectable (never read from the wall clock
    implicitly) so relative-time queries stay deterministic: tests,
    oracles, and a batch campaign all evaluate one fixed instant.
    """
    cat = catalog or EventsCatalog(sf_dir)
    return _read_statement(spark, cat, parse(query), _clock(now), meta)


def influxql_batch(
    spark: SparkSession, sf_dir: str, query: str, catalog=None, now=None
) -> list[DataFrame]:
    """Compile a ``;``-separated statement batch — the shape InfluxDB's
    ``/query`` endpoint accepts in one ``q=`` parameter — returning one
    lazy DataFrame per statement, in order. Read statements only
    (SELECT/SHOW/EXPLAIN); a DELETE/DROP in a batch is refused with a
    pointer at :func:`influxql_delete`, which needs a mutable table,
    not a fixture dir."""
    cat = catalog or EventsCatalog(sf_dir)
    now = _clock(now)
    return [
        _read_statement(spark, cat, stmt, now, None)
        for stmt in parse_all(query)
    ]


def _bare_compiler(now=None) -> "_Compiler":
    """A condition-only compiler context (no catalog, no statement) —
    shared by DELETE and the streaming CQ's per-batch WHERE."""
    c = _Compiler.__new__(_Compiler)
    c.now = now
    c.time_lo = c.time_hi = None
    c.lo_incl, c.hi_incl = True, False
    return c


def delete_condition(stmt: Delete, now=None) -> Column:
    """The row predicate a parsed DELETE/DROP statement selects."""
    cond = F.lit(True)
    if stmt.measurement is not None:
        cond = cond & (F.col("measurement") == stmt.measurement)
    if stmt.where is not None:
        cond = cond & _bare_compiler(now)._cond(stmt.where)
    return cond


def influxql_delete(table, query: str, now=None) -> None:
    """Apply ``DELETE FROM <m> [WHERE ...]`` or ``DROP MEASUREMENT
    <m>`` to a points SnapshotTable (columns: measurement, time, tags,
    fields) — one atomic snapshot version via the table format's
    delete; prior versions stay time-travelable, InfluxDB's
    tombstone-then-compact made explicit. Time-range-only deletes over
    the date-partitioned warehouse should instead use
    ``..retention.enforce_retention`` (metadata-only partition drops).
    """
    stmt = parse(query)
    if not isinstance(stmt, Delete):
        raise InfluxQLError("influxql_delete needs a DELETE/DROP statement")
    table.delete(delete_condition(stmt, _clock(now)))


def influxql_into(
    spark: SparkSession,
    sf_dir: str,
    query: str,
    table_path: str,
    catalog=None,
    now=None,
):
    """Execute a ``SELECT ... INTO <measurement>`` — InfluxDB's batch
    materialization (backfill / downsample-once) — by MERGE-ing the
    result into a :class:`..tableformat.SnapshotTable` at
    ``table_path``. Upsert keyed on (time, tags): re-running the INTO
    over an overlapping range REPLACES those rows, exactly InfluxDB's
    write-wins point semantics, and the table stays readable
    snapshot-isolated throughout. Returns the table handle.

    The recurring flavor of the same idea is a CONTINUOUS QUERY —
    ``..streaming.cq`` maintains the rollup incrementally; INTO is the
    one-shot batch form over history.
    """
    from ..tableformat import SnapshotTable

    stmt = parse(query)
    if not isinstance(stmt, Select) or not stmt.into:
        raise InfluxQLError("influxql_into needs a SELECT ... INTO query")
    cat = catalog or EventsCatalog(sf_dir)
    df = _Compiler(spark, cat, stmt, now=_clock(now)).compile()
    tags = stmt.group_tags if stmt.group_tags != ["*"] else list(cat.schema.tags)
    keys = [c for c in df.columns if c == "time" or c in tags or c == "measurement"]
    if not keys:
        raise InfluxQLError(
            "SELECT ... INTO needs a time bucket or tag grouping to key on"
        )
    table = SnapshotTable(spark, table_path, key_cols=keys)
    if table.version() == 0:
        table.overwrite(df)  # first write: no current snapshot to merge
    else:
        table.merge(df)
    return table


def _show_measurements(cat, frm) -> list[str]:
    """Resolve a SHOW/DROP SERIES FROM clause (absent, or a list of
    names and /regex/es) to concrete measurement names: every catalog
    name when FROM is absent, else the SELECT path's resolution."""
    if frm is None:
        return list(cat.measurement_names())
    return resolve_from(cat, frm)[0]


def resolve_from(cat, measurements: list) -> tuple[list[str], bool]:
    """Resolve a SELECT's FROM measurements (names and /regex/es, the
    regexes matched against the catalog in catalog order) to unique
    names, plus whether the result spans several measurements — a
    regex always counts as several, so its output keys on
    ``measurement`` even when it matched one name."""
    names: list[str] = []
    multi = False
    for m in measurements:
        if isinstance(m, Rgx):
            rx = re.compile(m.pattern)
            names.extend(n for n in cat.measurement_names() if rx.search(n))
            multi = True
        else:
            names.append(m.value)
    if not names:
        raise InfluxQLError("no measurement matched FROM clause")
    return list(dict.fromkeys(names)), multi or len(names) > 1


def measurement_points(spark: SparkSession, cat, names: list[str]) -> DataFrame:
    """The points of the named measurements: the catalog's one
    relation filtered on ``measurement IN names`` — one scan, the
    predicate pushed into it (Catalyst's OptimizeIn turns a one-name
    IN into ``=``)."""
    return cat.frame(spark).filter(F.col("measurement").isin(names))


def _show_points(spark: SparkSession, cat, frm, where, now) -> DataFrame:
    """The points a SHOW form reads: the FROM measurements (every
    catalog name when FROM is absent), filtered by WHERE when given —
    the predicate pushes into the scan."""
    df = measurement_points(spark, cat, _show_measurements(cat, frm))
    if where is not None:
        df = df.filter(_bare_compiler(now)._cond(where))
    return df


def _compile_show(
    spark: SparkSession, cat, stmt: Show, meta=None, now=None
) -> DataFrame:
    sch: MeasurementSchema = cat.schema
    if stmt.what == "measurements":
        names = sorted(cat.measurement_names())
        wm = stmt.with_measurement
        if isinstance(wm, Rgx):
            rx = re.compile(wm.pattern)
            names = [n for n in names if rx.search(n)]
        elif isinstance(wm, str):
            names = [n for n in names if n == wm]
        if not names:
            return spark.createDataFrame([], "name string")
        if stmt.where is not None:
            # existence semantics (InfluxDB): list measurements with at
            # least one point matching the predicate — a distinct over
            # the filtered scan, never a collect
            frm = [Str(n) for n in names]
            df = _show_points(spark, cat, frm, stmt.where, now)
            return (
                df.select(F.col("measurement").alias("name"))
                .distinct()
                .orderBy("name")
            )
        return spark.createDataFrame([(n,) for n in names], "name string")
    if stmt.what in ("databases", "retention policies", "continuous queries"):
        if meta is None:
            raise InfluxQLError(
                f"SHOW {stmt.what.upper()} needs a MetaStore — pass meta= "
                "(see ..retention.MetaStore) or use influxql_admin"
            )
        return _compile_show_meta(spark, meta, stmt)
    if stmt.what == "tag keys":
        keys = spark.createDataFrame(
            [(t,) for t in sorted(sch.tags)], "tagKey string"
        )
        if stmt.where is not None:
            # keys exist only where some point matches the predicate
            # (uniform-schema catalog: all-or-nothing via a 1-row
            # existence probe, never a collect)
            exists = (
                _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
                .limit(1)
                .select(F.lit(1).alias("_e"))
            )
            keys = keys.crossJoin(exists).select("tagKey")
        return keys
    if stmt.what == "field keys":
        return spark.createDataFrame(
            [(f, "float") for f in sorted(sch.fields)],
            "fieldKey string, fieldType string",
        )
    if stmt.what in ("series", "series cardinality"):
        # tag predicates + time bounds: the dashboard template-variable
        # shape
        df = _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
        key = F.concat_ws(
            ",",
            F.col("measurement"),
            *[
                F.concat(F.lit(f"{t}="), F.col(t).cast("string"))
                for t in sorted(sch.tags)
            ],
        )
        if stmt.what == "series cardinality":
            # EXACT = distinct + count (two-phase exact); plain
            # CARDINALITY = InfluxDB's estimate, lowered onto HLL++
            # (approx_count_distinct): one map-side partial-merge agg,
            # NO distinct shuffle — at 100 TB the estimate costs one
            # scan while the exact form pays a full-key exchange.
            src = df.select(key.alias("key"))
            if stmt.exact:
                src = src.distinct()
            agg = (
                F.count(F.lit(1))
                if stmt.exact
                else F.approx_count_distinct("key")
            )
            return src.agg(agg.cast("long").alias("cardinality"))
        return df.select(key.alias("key")).distinct().orderBy("key")
    if stmt.what == "measurement cardinality":
        if stmt.where is None:
            # catalog metadata — a 1-row literal, no scan
            names = _show_measurements(cat, stmt.from_measurement)
            return spark.createDataFrame(
                [(len(names),)], "cardinality long"
            )
        # existence semantics: measurements with >= 1 matching point
        df = _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
        agg = (
            F.count_distinct(F.col("measurement"))
            if stmt.exact
            else F.approx_count_distinct("measurement")
        )
        return df.agg(agg.cast("long").alias("cardinality"))
    if stmt.what == "tag key cardinality":
        # uniform-schema catalog: every measurement with >= 1 matching
        # point carries the full tag-key set (a metadata count per
        # measurement — InfluxDB's per-measurement result blocks)
        nkeys = len(sch.tags)
        if stmt.where is None:
            names = _show_measurements(cat, stmt.from_measurement)
            return spark.createDataFrame(
                [(n, nkeys) for n in sorted(names)],
                "measurement string, cardinality long",
            )
        df = _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
        return (
            df.select("measurement")
            .distinct()
            .select(
                "measurement",
                F.lit(nkeys).cast("long").alias("cardinality"),
            )
            .orderBy("measurement")
        )
    if stmt.what == "tag values cardinality":
        if stmt.with_key not in sch.tags:
            raise InfluxQLError(f"unknown tag key {stmt.with_key!r}")
        df = _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
        # per-measurement distinct tag values (InfluxDB's result
        # blocks); the estimate form is a single hash-agg of HLL
        # sketches — partial-merged map-side, no distinct exchange
        agg = (
            F.count_distinct(F.col(stmt.with_key))
            if stmt.exact
            else F.approx_count_distinct(stmt.with_key)
        )
        return (
            df.groupBy("measurement")
            .agg(agg.cast("long").alias("cardinality"))
            .orderBy("measurement")
        )
    if stmt.what == "field key cardinality":
        # metadata: the uniform schema's field count per measurement
        names = _show_measurements(cat, stmt.from_measurement)
        return spark.createDataFrame(
            [(n, len(sch.fields)) for n in sorted(names)],
            "measurement string, cardinality long",
        )
    if stmt.what == "tag values":
        if stmt.with_key not in sch.tags:
            raise InfluxQLError(f"unknown tag key {stmt.with_key!r}")
        df = _show_points(spark, cat, stmt.from_measurement, stmt.where, now)
        return (
            df.select(
                F.lit(stmt.with_key).alias("key"),
                F.col(stmt.with_key).cast("string").alias("value"),
            )
            .distinct()
            .orderBy("value")
        )
    raise InfluxQLError(f"unsupported SHOW {stmt.what}")


def _compile_show_meta(spark: SparkSession, meta, stmt: Show) -> DataFrame:
    """SHOW DATABASES / RETENTION POLICIES / CONTINUOUS QUERIES against
    a MetaStore — dimension-sized literal relations (InfluxDB 1.x
    column layout)."""
    if stmt.what == "databases":
        return spark.createDataFrame(
            [(n,) for n in sorted(meta.databases())], "name string"
        )
    if stmt.what == "continuous queries":
        rows = [
            (db, name, text)
            for db in sorted(meta.databases())
            for name, text in meta.continuous_queries(db)
        ]
        return spark.createDataFrame(
            rows, "database string, name string, query string"
        )
    db = stmt.on_database
    if db is None:
        names = meta.databases()
        if len(names) != 1:
            raise InfluxQLError(
                "SHOW RETENTION POLICIES needs ON <db> when more than "
                "one database exists"
            )
        db = names[0]
    rows = [
        (
            p.name,
            p.duration_display(),
            p.shard_display(),
            p.replication,
            p.name == meta.default_policy_name(db),
        )
        for p in meta.policies(db)
    ]
    return spark.createDataFrame(
        sorted(rows),
        "name string, duration string, shardGroupDuration string, "
        "replicaN int, default boolean",
    )


def _refs_time(e) -> bool:
    if isinstance(e, Var):
        return e.name.lower() == "time"
    if isinstance(e, Bin):
        return _refs_time(e.left) or _refs_time(e.right)
    if isinstance(e, Call):
        return e.func == "NOW" or any(_refs_time(a) for a in e.args)
    return False


def drop_series_condition(stmt: DropSeries, catalog=None) -> Column:
    """The row predicate a DROP SERIES statement selects for removal.
    InfluxQL forbids time bounds in DROP SERIES (whole-series removal
    only) — a WHERE referencing ``time`` is rejected."""
    if stmt.where is not None and _refs_time(stmt.where):
        raise InfluxQLError(
            "DROP SERIES cannot filter on time — it removes whole "
            "series; use DELETE for time-ranged removal"
        )
    cond = F.lit(True)
    if stmt.measurement is not None:
        names = (
            _show_measurements(catalog, stmt.measurement)
            if catalog is not None
            else [m.value for m in stmt.measurement if isinstance(m, Str)]
        )
        if not names:
            raise InfluxQLError(
                "DROP SERIES FROM /regex/ needs a catalog to resolve "
                "measurement names"
            )
        cond = cond & F.col("measurement").isin(names)
    if stmt.where is not None:
        cond = cond & _bare_compiler(None)._cond(stmt.where)
    return cond


def influxql_drop_series(table, query: str, catalog=None) -> None:
    """Apply ``DROP SERIES FROM <m> WHERE <tag>=...`` to a points
    SnapshotTable — one atomic snapshot version removing every point of
    the matching series (the series also disappears from SHOW SERIES,
    which derives from the data). Mirrors the reference's management
    surface (``influx_service.py:183-200`` keeps the database/series
    model InfluxDB tooling manages with these statements)."""
    stmt = parse(query)
    if not isinstance(stmt, DropSeries):
        raise InfluxQLError("influxql_drop_series needs a DROP SERIES statement")
    table.delete(drop_series_condition(stmt, catalog))


def show_queries(spark: SparkSession) -> DataFrame:
    """``SHOW QUERIES`` — the session's ACTIVE queries. In InfluxDB
    this lists in-flight statements; the Spark-native long-lived
    queries are the streaming ones (CQ rollups, ingest, screens), so
    the statement maps onto ``spark.streams.active``. Columns follow
    InfluxDB's (qid, query) with ``status`` in the duration seat —
    a wall-clock duration would be nondeterministic, and status is
    what KILL QUERY actually needs."""
    rows = [
        (str(q.id), q.name or "", "running") for q in spark.streams.active
    ]
    return spark.createDataFrame(
        sorted(rows), "qid string, query string, status string"
    )


def kill_query(spark: SparkSession, qid: str) -> None:
    """``KILL QUERY <qid>`` — stop the active streaming query whose id
    (or registered name) matches. Unknown qid errors, as InfluxDB
    does."""
    for q in spark.streams.active:
        if str(q.id) == qid or (q.name or "") == qid:
            q.stop()
            return
    raise InfluxQLError(f"no such query: {qid!r}")


def influxql_admin(spark: SparkSession, meta, query: str, warehouse=None):
    """Execute a management statement: CREATE DATABASE, CREATE/ALTER/
    DROP RETENTION POLICY, CREATE/DROP CONTINUOUS QUERY, KILL QUERY
    (return None), SHOW DATABASES / RETENTION POLICIES / CONTINUOUS
    QUERIES / QUERIES / SHARDS / SHARD GROUPS (return a DataFrame).
    The policy catalog then drives ``..retention.retention_filter``
    (query-time expiry) and ``enforce_retention`` (the storage
    sweep). SHOW QUERIES / KILL QUERY act on the session's active
    streaming queries and need no MetaStore (``meta`` may be None);
    SHOW SHARDS / SHARD GROUPS list the ``ingest_date=`` partition
    layout of ``warehouse`` carved into the default policy's
    epoch-aligned shard-group windows (pure metadata, no data read)."""
    stmt = parse(query)
    if isinstance(stmt, Show) and stmt.what in ("shards", "shard groups"):
        if warehouse is None:
            raise InfluxQLError(
                f"SHOW {stmt.what.upper()} needs warehouse= (the "
                "ingest_date-partitioned points directory)"
            )
        from ..retention import shard_group_rows

        dbs = meta.databases()
        if len(dbs) != 1:
            raise InfluxQLError(
                f"SHOW {stmt.what.upper()} needs exactly one database "
                "on the MetaStore (one warehouse maps to one database)"
            )
        db = dbs[0]
        rows = shard_group_rows(warehouse, db, meta.default_policy(db))
        if stmt.what == "shard groups":
            return spark.createDataFrame(
                rows,
                "id long, database string, retention_policy string, "
                "start_time timestamp, end_time timestamp, "
                "expiry_time timestamp",
            )
        # single-node layout: one shard per group, no owners
        return spark.createDataFrame(
            [(r[0], r[1], r[2], r[0], r[3], r[4], r[5], "") for r in rows],
            "id long, database string, retention_policy string, "
            "shard_group long, start_time timestamp, end_time timestamp, "
            "expiry_time timestamp, owners string",
        )
    if isinstance(stmt, CreateDatabase):
        meta.create_database(stmt.name)
        return None
    if isinstance(stmt, RetentionPolicyStmt):
        meta.apply_policy_stmt(stmt)
        return None
    if isinstance(stmt, KillQuery):
        kill_query(spark, stmt.qid)
        return None
    if isinstance(stmt, DropDatabase):
        meta.drop_database(stmt.name)
        if warehouse is not None:
            # InfluxDB's DROP DATABASE removes the data too; the
            # warehouse directory IS this database's storage
            import shutil

            shutil.rmtree(warehouse, ignore_errors=True)
        return None
    if isinstance(stmt, DropShard):
        if warehouse is None:
            raise InfluxQLError(
                "DROP SHARD needs warehouse= (the ingest_date-"
                "partitioned points directory)"
            )
        from ..retention import drop_shard

        dbs = meta.databases()
        if len(dbs) != 1:
            raise InfluxQLError(
                "DROP SHARD needs exactly one database on the "
                "MetaStore (one warehouse maps to one database)"
            )
        drop_shard(warehouse, meta.default_policy(dbs[0]), stmt.shard_id)
        return None
    if isinstance(stmt, ContinuousQuery):
        # registration only — hand the statement to
        # ..streaming.cq.start_continuous_query to actually run it
        meta.register_cq(stmt.database, stmt.name, query.strip())
        return None
    if isinstance(stmt, DropContinuousQuery):
        meta.drop_cq(stmt.database, stmt.name)
        return None
    if isinstance(stmt, Show) and stmt.what == "queries":
        return show_queries(spark)
    if isinstance(stmt, Show) and stmt.what in (
        "databases",
        "retention policies",
        "continuous queries",
    ):
        return _compile_show_meta(spark, meta, stmt)
    raise InfluxQLError(
        "influxql_admin handles CREATE DATABASE, CREATE/ALTER/DROP "
        "RETENTION POLICY, CREATE/DROP CONTINUOUS QUERY, SHOW "
        "DATABASES, SHOW RETENTION POLICIES, SHOW CONTINUOUS QUERIES, "
        "SHOW QUERIES, SHOW SHARDS, SHOW SHARD GROUPS, KILL QUERY"
    )
