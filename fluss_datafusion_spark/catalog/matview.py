"""Incrementally-maintained materialized views over PK tables.

The lakehouse pattern Delta Live Tables / Materialize / Flink dynamic
tables provide: a GROUP BY aggregate view whose stored result is kept
current by applying the source table's CHANGE STREAM, not by
re-aggregating the corpus.  This is the natural consumer of the
engine's table↔changelog duality (``catalog.read_changes`` — the
bounded CDC read): each refresh processes only the statements since
the view's last checkpoint, so refresh cost is O(changes), not
O(source).

Supported view shapes (the classic incrementally-maintainable algebra):

    SELECT g1, g2, agg1 AS a1, ... FROM src [WHERE pred] GROUP BY g1, g2

    SELECT a.g, b.h, agg(c.x) AS s, ...
    FROM src1 [AS] a JOIN src2 [AS] b ON a.k = b.k [AND ...]
    [JOIN src3 [AS] c ON b.j = c.j [AND ...]] ...
    [WHERE pred] GROUP BY a.g, b.h

with the self-maintainable aggregates ``count(*)``, ``count(x)``,
``sum(x)``, ``avg(x)`` — a +I/+U image contributes positively, a -U/-D
image negatively, and group disappearance falls out of the hidden
per-group row count reaching zero — plus ``min(x)``/``max(x)`` via
BOUNDED RESCAN: inserts fold into the stored extremum directly
(least/greatest), and a retraction at-or-past the stored extremum
flags just that group for recomputation from the source (a
semi-join-restricted scan touching only the flagged groups' rows —
the standard IVM treatment of non-self-maintainable aggregates; see
Gupta & Mumick, "Maintenance of Materialized Views", 1995).  GROUP BY
columns become the view's PRIMARY KEY, so they must be non-null
in every source row the WHERE clause admits (enforced at build; add a
NOT NULL conjunct to the WHERE to carve out null groups).  Join views
reference GROUP BY, aggregate and ON columns alias-qualified
(``a.col``); their WHERE clause may also name a column of exactly one
source unqualified.  A single-source view references plain column
names.

ONE delta rule maintains every shape: the incremental join delta (the
DBSP / differential-dataflow derivation; Blakeley, Larson & Tompa 1986
for the select-project-join case) folded over the sources in FROM
order.  With J = A1 ⋈ ... ⋈ Ak the join so far, δJ its sign-weighted
change multiset, and C the next source (C1 = C0 + δC; δC from C's
bounded CDC window, snapshots pinned with ``read(as_of_seq=...)``):

    δ(J ⋈ C) = δJ ⋈ C1  +  J1 ⋈ δC  −  δJ ⋈ δC

where a joined row's sign is the product of its inputs' signs (the
third term's sign is negated — both-sides-changed pairs are counted by
the first two terms twice).  The fold starts from δA = A's CDC window,
so k = 1 is the window itself, k = 2 is the classic pairwise rule, and
each further source is one more fold step.  The signed rows then feed
one group-aggregate delta, so a dim update that re-attributes every
joined fact row falls out of the algebra with no special casing.
Each term joins a (small) delta against a snapshot or another delta —
AQE broadcasts the delta side — so refresh cost is
O(changes × join fan-out), never O(Σ|sources|).

Delta-maintenance math per refresh window:

    sign(op)   = +1 for +I/+U, -1 for -U/-D
    d_count    = SUM(sign)                        (per group)
    d_sum(x)   = SUM(sign * x)   [nulls drop out via the count]
    new        = old + d          (changed groups only: the delta
                                   LEFT-joins the view, never a full
                                   view scan at refresh)
    d_min(x)   = least(old, min over +images); rescan the group iff
                 min over -images <= stored min (symmetric for max)
    group gone = hidden row count hits 0 → PK tombstone

Persisted spec (``_mv.json`` beside the view's data): ``sources``
(``[{name, alias}]`` in FROM order), ``joins`` (per joined source, its
AND-ed ``[earlier_alias.col, alias.col]`` pairs), ``last_seqs`` (one
checkpoint seq per source), plus ``where``, ``group_cols``,
``group_names``, ``aggs`` and ``float_sums``.  Specs written before the
n-source form (flat per-source keys for one or two sources) are
translated on load, in ``_load_mv`` only.

SQL sums over zero non-null values are NULL, so every sum/avg carries a
hidden non-null count; ``avg`` additionally stores its hidden sum and
recomputes ``sum/count`` for the groups a refresh touches.  Floating
sums accumulate the usual ± rounding under retraction; exact types
(int/bigint/decimal) maintain exactly.  If a source compacted past
the view's checkpoint, the bounded CDC read refuses and the refresh
transparently falls back to a full rebuild — the same contract as any
CDC consumer checkpointed below the floor.

Scale shape: a refresh is one changelog derivation per source filtered
to the seq window (a parquet scan + one window pass), the fold's delta
joins above, one map-side-combined delta aggregation keyed on
the group columns, one broadcast-or-shuffle LEFT join of (tiny) delta
against the view, and ONE fused append (upserts and tombstones land
under one seq via a per-row __del__ flag — r7).  Nothing corpus-sized
is recomputed, collected, or broadcast.

No reference analog (zuston/fluss-datafusion has neither changelogs nor
views); part of the lakehouse surface beyond the reference.
"""

from __future__ import annotations

import json
import os
import re
from functools import reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fluss_datafusion_spark.catalog.ddl import (
    _mask_literals,
    _split_top_level,
    _unmask_literals,
)
from fluss_datafusion_spark.catalog.metadata import (
    ColumnSpec,
    TableSpec,
    spark_type_to_ddl,
)

_MV_FILE = "_mv.json"
_STAR = "__mv_star__"  # hidden per-group row count (group liveness)
_SIGN = "__mv_sign__"  # per-row contribution sign in delta windows

_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.*?)\s+FROM\s+(?P<from_>.*?)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"\s+GROUP\s+BY\s+(?P<groups>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_FROM_HEAD_RE = re.compile(
    r"^(?P<src>(?:`[^`]*`|[\w.])+)"
    r"(?:\s+(?:AS\s+)?(?!INNER\b|JOIN\b)(?P<a1>\w+))?$",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_CLAUSE_RE = re.compile(
    r"^(?P<src>(?:`[^`]*`|[\w.])+)"
    r"(?:\s+(?:AS\s+)?(?!ON\b)(?P<a>\w+))?"
    r"\s+ON\s+(?P<on>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_ON_EQ_RE = re.compile(
    r"^(?P<l>\w+\.\w+)\s*=\s*(?P<r>\w+\.\w+)$", re.DOTALL
)
_AGG_RE = re.compile(
    r"^(?P<fn>count|sum|avg|min|max)\s*\(\s*(?P<arg>\*|`?[\w.]+`?)\s*\)"
    r"\s+AS\s+(?P<alias>`?[\w]+`?)\s*$",
    re.IGNORECASE,
)


def parse_matview_select(select_sql: str) -> Dict:
    """Parse the maintainable-view SELECT into {sources:[{name, alias}],
    joins, where, group_cols, group_names, aggs:[{fn, col, alias}]}.
    ``joins[i]`` holds source i+1's AND-ed equality pairs, each
    ``[earlier_alias.col, new_alias.col]``; a single source has no
    joins (and alias None unless written).  For join views
    ``group_cols``/agg ``col``s hold the alias-qualified expressions as
    written and ``group_names`` the unqualified output names (the
    view's PK)."""
    masked, lits = _mask_literals(select_sql.strip().rstrip(";"))
    match = _SELECT_RE.match(masked)
    if not match:
        raise ValueError(
            "materialized views support exactly 'SELECT cols, aggs FROM t "
            "[JOIN t2 ON ...] [WHERE pred] GROUP BY cols': "
            f"{select_sql!r}"
        )
    strip = lambda s: s.strip().strip("`")  # noqa: E731
    from_sql = match.group("from_").strip()
    segments = re.split(r"\s+(?:INNER\s+)?JOIN\s+", from_sql,
                        flags=re.IGNORECASE)
    head = _FROM_HEAD_RE.match(segments[0].strip())
    if not head:
        raise ValueError(
            f"unsupported FROM clause {from_sql!r}: expected 't [AS a]' "
            "with zero or more 'JOIN u [AS] b ON a.k = b.k' clauses"
        )
    source = head.group("src").replace("`", "")
    is_join = len(segments) > 1
    alias = head.group("a1") or (source.split(".")[-1] if is_join else None)
    sources = [{"name": source, "alias": alias}]
    joins: List[List[List[str]]] = []
    for seg in segments[1:]:
        clause = _JOIN_CLAUSE_RE.match(seg.strip())
        if not clause:
            raise ValueError(
                f"unsupported JOIN clause {seg.strip()!r}: expected "
                "'table [AS] alias ON a.col = b.col [AND ...]'"
            )
        src_i = clause.group("src").replace("`", "")
        alias_i = clause.group("a") or src_i.split(".")[-1]
        earlier = {s["alias"] for s in sources}
        if alias_i in earlier:
            raise ValueError(
                f"join sides need distinct aliases (duplicate {alias_i!r})"
            )
        pairs: List[List[str]] = []
        for conj in re.split(r"\s+AND\s+", clause.group("on").strip(),
                             flags=re.IGNORECASE):
            eq = _ON_EQ_RE.match(conj.strip())
            if not eq:
                raise ValueError(
                    f"join views support only AND-ed 'a.col = b.col' "
                    f"equality conditions, got {conj.strip()!r}"
                )
            l, r = eq.group("l"), eq.group("r")
            la, ra = l.split(".")[0], r.split(".")[0]
            if ra == alias_i and la in earlier:
                pairs.append([l, r])
            elif la == alias_i and ra in earlier:
                pairs.append([r, l])
            else:
                raise ValueError(
                    f"join condition {conj.strip()!r} must relate "
                    f"{alias_i!r} to an earlier alias "
                    f"({sorted(earlier)})"
                )
        sources.append({"name": src_i, "alias": alias_i})
        joins.append(pairs)
    aliases = {s["alias"] for s in sources if s["alias"]}

    def _check_ref(ref: str, what: str) -> str:
        if not is_join:
            if "." in ref:
                raise ValueError(
                    f"{what} {ref!r}: qualified references need a JOIN"
                )
        else:
            parts = ref.split(".")
            if len(parts) != 2 or parts[0] not in aliases:
                raise ValueError(
                    f"{what} {ref!r}: join views require alias-qualified "
                    f"references ({sorted(aliases)})"
                )
        return ref

    group_cols = [
        _check_ref(strip(c), "GROUP BY column")
        for c in _split_top_level(match.group("groups"))
    ]
    group_names = [c.split(".")[-1] for c in group_cols]
    if len(set(group_names)) != len(group_names):
        raise ValueError(
            f"GROUP BY output names collide: {group_names} (the "
            "unqualified names become the view's PRIMARY KEY)"
        )
    aggs: List[Dict] = []
    seen_groups = []
    for item in _split_top_level(match.group("items")):
        item = _unmask_literals(item.strip(), lits)
        agg = _AGG_RE.match(item)
        if agg:
            arg = agg.group("arg")
            fn = agg.group("fn").lower()
            if arg == "*" and fn != "count":
                raise ValueError(f"{fn}(*) is not a valid aggregate")
            aggs.append(
                {
                    "fn": fn,
                    "col": (
                        None
                        if arg == "*"
                        else _check_ref(strip(arg), "aggregate argument")
                    ),
                    "alias": strip(agg.group("alias")),
                }
            )
        elif strip(item) in group_cols:
            seen_groups.append(strip(item))
        else:
            raise ValueError(
                f"unsupported select item {item!r}: must be a GROUP BY "
                "column or count/sum/avg/min/max(...) AS alias"
            )
    if seen_groups != group_cols:
        raise ValueError(
            "select list must lead with the GROUP BY columns in order "
            f"(got {seen_groups}, grouped by {group_cols})"
        )
    if not aggs:
        raise ValueError("materialized view needs at least one aggregate")
    names = group_names + [a["alias"] for a in aggs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate output column names in {names}")
    return {
        "sources": sources,
        "joins": joins,
        "where": _unmask_literals(
            (match.group("where") or "").strip() or None, lits
        ),
        "group_cols": group_cols,
        "group_names": group_names,
        "aggs": aggs,
    }


def _lazy_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False) with AQE scoped OFF for the call.

    Under AQE, ``Dataset.localCheckpoint``'s toRdd MATERIALIZES every
    intermediate query stage eagerly — measured ~0.4 s of stage-by-stage
    job scheduling per checkpoint at tiny deltas (r8 profiling).  With
    AQE off for just the toRdd, the call is pure planning; the first
    consuming job then executes the whole pipeline in one pass.  The
    refresh's delta plans are bounded (O(changes)), so losing AQE's
    runtime re-planning inside them costs nothing; AQE stays on for
    everything downstream (including the rescan branch's source join)."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        return df.localCheckpoint(eager=False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _qualified(mv: Dict) -> bool:
    """Whether the fold's flat frames qualify column names by source:
    a single source keeps plain names (its refs are unqualified), join
    views carry ``alias__col``."""
    return len(mv["sources"]) > 1


def _flat_name(mv: Dict, alias: Optional[str], col: str) -> str:
    """Name of source ``alias``'s column ``col`` in the fold's flat
    frames."""
    return f"{alias}__{col}" if _qualified(mv) else col


# an identifier, optionally backticked and dot-qualified by one more
# (``a.col``, ``col``, ```a`.`col```), that is neither the tail of a
# longer dotted path, a function name, nor a typed-literal keyword
# (``DATE '...'`` — literals are masked to \x01<i>\x01 first)
_REF_RE = re.compile(
    r"(?<![\w.`])`?(?P<head>[A-Za-z_]\w*)`?"
    r"(?:\.`?(?P<tail>\w+)`?)?"
    r"(?![\w`]|\s*\(|\s*\x01)"
)
_CAST_TYPE_RE = re.compile(r"\bAS\s*$", re.IGNORECASE)


def _flat_expr(mv: Dict, expr: str,
               cols: Optional[Dict[str, List[str]]] = None) -> str:
    """Rewrite column refs of a join view's expression to the flat
    names the fold frames carry; the identity for a single source.

    ``alias.col`` (alias matched case-insensitively, as Spark resolves
    it) becomes ``alias__col``.  With ``cols`` (alias -> the source's
    column names; given for the free-form WHERE clause) a bare ``col``
    that names a column of exactly one source becomes that source's
    flat name too, an ambiguous bare ref or an ``alias.col`` naming no
    column of that source raises ValueError, and any other identifier
    (keywords, functions, unknown names) is left for Spark to resolve.
    String literals are masked first, so ``'c.region'`` stays a
    literal."""
    if not _qualified(mv):
        return expr
    aliases = {s["alias"].lower(): s["alias"] for s in mv["sources"]}
    owners: Dict[str, List[Tuple[str, str]]] = {}
    for alias, names in (cols or {}).items():
        for c in names:
            owners.setdefault(c.lower(), []).append((alias, c))
    masked, lits = _mask_literals(expr)

    def flat(m: "re.Match[str]") -> str:
        head, tail = m.group("head"), m.group("tail")
        alias = aliases.get(head.lower())
        if alias is not None and tail is not None:
            if cols is not None:
                known = {c.lower(): c for c in cols[alias]}
                if tail.lower() not in known:
                    raise ValueError(
                        f"unknown column {head}.{tail} in {expr!r}"
                    )
                tail = known[tail.lower()]
            return _flat_name(mv, alias, tail)
        hits = owners.get(head.lower())
        if not hits or _CAST_TYPE_RE.search(masked, 0, m.start()):
            return m.group(0)
        if len(hits) > 1:
            raise ValueError(
                f"ambiguous column reference {head!r} in {expr!r}: "
                "qualify it with its source alias "
                f"({sorted(a for a, _ in hits)})"
            )
        ref = _flat_name(mv, *hits[0])
        return ref if tail is None else f"{ref}.{tail}"

    return _unmask_literals(_REF_RE.sub(flat, masked), lits)


# -- SQL-string plan construction (r9) ---------------------------------
#
# The delta/rebuild plans below are assembled as ONE generated SQL
# statement per relation, with the raw inputs (pinned snapshots,
# bounded CDC windows, checkpointed deltas) passed as spark.sql
# DataFrame template parameters — the read_changelog treatment
# (catalog.py r8: 251 -> 22 py4j commands).  The per-column
# select/withColumn/join chains they replace cost ~340 ms of py4j
# round-trips per warm REFRESH (r9 profile: ~210 commands per window);
# an n-source refresh (q66) runs the derivation once per source per
# statement.
# Semantics are unchanged: the SQL text is generated from the same
# parsed view dict, and every user-derived fragment is brace-escaped
# so spark.sql's string formatter can't misread it.


def _fmt_safe(text: str) -> str:
    """Escape braces in user-derived SQL fragments: spark.sql(q, **dfs)
    runs the query through a string formatter, so a literal '{' inside
    an expression or string literal would be parsed as a template
    field."""
    return text.replace("{", "{{").replace("}", "}}")


def _bt(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


# op -> row-contribution sign
_SIGN_CASE = "CASE WHEN op IN ('+I', '+U') THEN 1 ELSE -1 END"
_CDC_META = ("op", "change_seq", "change_sub")


def _norm_items_sql(mv: Dict, sign_sql: Optional[str] = None) -> str:
    """SELECT items of the normalized shape the agg machinery consumes,
    over a flat frame: group output names + flat agg args + optional
    sign."""
    items = [
        f"({_fmt_safe(_flat_expr(mv, expr))}) AS {_bt(name)}"
        for expr, name in zip(mv["group_cols"], mv["group_names"])
    ]
    done = set()
    for a in mv["aggs"]:
        c = a["col"]
        if c is None or c in done:
            continue
        done.add(c)
        flat = _flat_expr(mv, c)
        items.append(f"({_fmt_safe(flat)}) AS {_bt(flat)}")
    if sign_sql is not None:
        items.append(f"CAST(({sign_sql}) AS INT) AS {_bt(_SIGN)}")
    return ", ".join(items)


def _pair_on_sql(mv: Dict, pairs) -> str:
    return " AND ".join(
        f"({_fmt_safe(_flat_expr(mv, l))}) = ({_fmt_safe(_flat_expr(mv, r))})"
        for l, r in pairs
    )


def _where_sql(catalog, mv: Dict) -> str:
    if not mv["where"]:
        return ""
    cols = (
        {s["alias"]: _source_cols(catalog, s) for s in mv["sources"]}
        if _qualified(mv)
        else None
    )
    return f" WHERE {_fmt_safe(_flat_expr(mv, mv['where'], cols))}"


class _SqlPlan:
    """Accumulates spark.sql template parameters while SQL text is
    composed, so one final spark.sql call ships the whole plan."""

    def __init__(self, spark):
        self.spark = spark
        self.params: Dict[str, DataFrame] = {}

    def ref(self, df: DataFrame) -> str:
        k = f"p{len(self.params)}"
        self.params[k] = df
        return "{" + k + "}"

    def sql(self, q: str) -> DataFrame:
        return self.spark.sql(q, **self.params)


def _source_cols(catalog, source: Dict) -> List[str]:
    return catalog.get_table(source["name"]).spark_schema().fieldNames()


def _flat_items_sql(mv: Dict, cols: List[str], alias: Optional[str]) -> str:
    return ", ".join(
        f"{_bt(c)} AS {_bt(_flat_name(mv, alias, c))}" for c in cols
    )


def _snap_sql(catalog, mv: Dict, i: int, hi: int, plan: _SqlPlan) -> str:
    """Flat subselect of source ``i`` pinned at seq ``hi`` — the one
    snapshot builder behind the full build, the bounded rescan and the
    fold's C1 / J1 sides."""
    s = mv["sources"][i]
    snap = catalog.read(s["name"], as_of_seq=hi)
    items = _flat_items_sql(mv, _source_cols(catalog, s), s["alias"])
    return f"(SELECT {items} FROM {plan.ref(snap)})"


def _join_chain(mv: Dict, parts: List[str]) -> str:
    """``parts[0] JOIN parts[1] ON <joins[0]> JOIN ...``: the flat
    frames of the first len(parts) sources joined in FROM order."""
    frm = parts[0]
    for i, part in enumerate(parts[1:], 1):
        frm += f" JOIN {part} ON {_pair_on_sql(mv, mv['joins'][i - 1])}"
    return frm


def _normalized_source(catalog, mv: Dict, his: List[int]) -> DataFrame:
    """The view's input relation (every source joined), pinned at the
    per-source seq anchors, WHERE applied, normalized — one generated
    SQL statement."""
    plan = _SqlPlan(catalog.spark)
    frm = _join_chain(
        mv, [_snap_sql(catalog, mv, i, hi, plan) for i, hi in enumerate(his)]
    )
    return plan.sql(
        f"SELECT {_norm_items_sql(mv)} FROM {frm}{_where_sql(catalog, mv)}"
    )


# windows below this many summed parquet bytes inline their delta
# subtrees as SQL text instead of checkpointing (a double scan of a
# small window inside one job beats per-checkpoint toRdd planning)
_INLINE_WINDOW_BYTES = 64 * 1024 * 1024


def _window_bytes(catalog, name: str, lo: int, hi: int) -> float:
    """Summed on-disk parquet bytes of the files a CDC window (lo, hi]
    reads — manifest metadata only, no Spark job.  Files without
    manifest __seq__ bounds count as unknown (infinite), so the caller
    stays on the conservative checkpoint path."""
    from fluss_datafusion_spark.catalog import skipping
    from fluss_datafusion_spark.catalog.catalog import _SEQ, _parquet_files

    spec = catalog.get_table(name)
    path = catalog.table_path(spec)
    manifest = skipping.load(path)
    total = 0
    for f in _parquet_files(path):
        rel = os.path.relpath(f, path)
        b = (manifest.get(rel) or {}).get(_SEQ)
        if b is None:
            return float("inf")
        if b[1] <= lo or b[0] > hi:
            continue  # outside the window: the seq-pruned scan skips it
        try:
            total += os.path.getsize(f)
        except OSError:
            return float("inf")
    return total


def _delta_rows(catalog, mv: Dict, his: List[int],
                los: List[int]) -> DataFrame:
    """Sign-weighted normalized rows whose aggregation is the view's
    exact delta over the refresh windows (lo, hi] — at least one source
    has a non-empty window.  The fold of the two-relation rule: with
    J = A1⋈...⋈Ak the accumulated join and δJ its accumulated delta,
    adding source C gives

        δ(J ⋈ C) = δJ ⋈ C1  +  J1 ⋈ δC  −  δJ ⋈ δC

    — applied k−1 times from δA = A's CDC window (δ(ABC) telescopes out
    of δ(AB)); a single source is its window alone.  Each fold step
    joins a changes-sized delta against a pinned snapshot (AQE
    broadcasts the delta side), so refresh cost is
    O(changes × join fan-out × n_sources), never O(Σ|sources|).  Signs
    multiply through each join; the both-delta term is negated.  The
    WHERE clause applies to the folded rows.

    The whole fold is composed as SQL text (checkpoint boundaries
    excepted — a checkpointed delta re-enters as a template param), so
    a refresh ships ONE statement per checkpoint segment instead of
    ~100 py4j plan-construction round-trips."""
    spark = catalog.spark
    srcs = mv["sources"]
    n_src = len(srcs)
    has_delta = [h > l for h, l in zip(his, los)]
    plan = _SqlPlan(spark)
    sc = "__mv_sign_c__"
    snaps: Dict[int, str] = {}
    windows_small = None

    def snap(i: int) -> str:
        # read lazily: a source whose snapshot no term joins is never read
        if i not in snaps:
            snaps[i] = _snap_sql(catalog, mv, i, his[i], plan)
        return snaps[i]

    def flat_cols(i: int) -> List[str]:
        al = srcs[i]["alias"]
        return [_flat_name(mv, al, c) for c in _source_cols(catalog, srcs[i])]

    def delta_text(i: int, sign_name: str) -> Optional[str]:
        if not has_delta[i]:
            return None
        src = srcs[i]
        ch = catalog.read_changes(src["name"], from_seq=los[i], to_seq=his[i])
        cols = [c for c in ch.columns if c not in _CDC_META]
        return (
            f"(SELECT {_flat_items_sql(mv, cols, src['alias'])},"
            f" {_SIGN_CASE} AS {_bt(sign_name)} FROM {plan.ref(ch)})"
        )

    def materialize(text: str) -> str:
        # Checkpoint policy (r8): a lazy checkpoint costs ~130 ms of
        # toRdd planning even with AQE scoped off, so only a delta
        # subtree that feeds TWO join terms comes here; single-consumer
        # subtrees inline into the next statement.  r10: when EVERY
        # leaf CDC window is provably SMALL (summed parquet bytes of
        # the window's files, known from the manifest — a metadata-only
        # check, no job), two-consumer subtrees inline too: re-scanning
        # a statement-sized window twice inside the ONE final job costs
        # less than a checkpoint.  Large windows keep the checkpoint —
        # recompute there would double a real scan.  The check runs on
        # the first two-consumer subtree only, so a refresh without one
        # reads no manifest.
        nonlocal windows_small
        if windows_small is None:
            windows_small = all(
                not has_delta[i]
                or _window_bytes(catalog, s["name"], los[i], his[i])
                <= _INLINE_WINDOW_BYTES
                for i, s in enumerate(srcs)
            )
        if windows_small:
            return text
        return plan.ref(
            _lazy_checkpoint(spark.sql(f"SELECT * FROM {text}", **plan.params))
        )

    cum_cols = flat_cols(0)
    dj = delta_text(0, _SIGN)
    # d0 feeds two fold-1 terms (δJ⋈C1 + δJ⋈δC) only if source 1 also
    # has a delta; otherwise it flows through exactly one join per fold
    if dj is not None and n_src > 1 and has_delta[1]:
        dj = materialize(dj)
    for i in range(1, n_src):
        cond = _pair_on_sql(mv, mv["joins"][i - 1])
        dc = delta_text(i, sc)
        if dc is not None and dj is not None:
            # δC feeds J1⋈δC AND δJ⋈δC — two consumers
            dc = materialize(dc)
        step_cols = cum_cols + flat_cols(i)
        sel = ", ".join(_bt(c) for c in step_cols)
        terms = []
        if dj is not None:
            terms.append(
                f"SELECT {sel}, {_bt(_SIGN)}"
                f" FROM {dj} JOIN {snap(i)} ON {cond}"
            )
        if dc is not None:
            j1 = _join_chain(mv, [snap(k) for k in range(i)])
            terms.append(
                f"SELECT {sel}, {_bt(sc)} AS {_bt(_SIGN)}"
                f" FROM {j1} JOIN {dc} ON {cond}"
            )
        if dj is not None and dc is not None:
            terms.append(
                f"SELECT {sel}, -({_bt(_SIGN)} * {_bt(sc)}) AS {_bt(_SIGN)}"
                f" FROM {dj} JOIN {dc} ON {cond}"
            )
        if terms:
            dj = "(" + " UNION ALL ".join(f"({t})" for t in terms) + ")"
        # the folded delta feeds two terms of the NEXT step only if that
        # source has its own delta; the LAST fold's output always has a
        # single consumer (the delta aggregation under merged's
        # checkpoint) and never checkpoints
        if dj is not None and i + 1 < n_src and has_delta[i + 1]:
            dj = materialize(dj)
        cum_cols = step_cols
    return plan.sql(
        f"SELECT {_norm_items_sql(mv, _bt(_SIGN))} FROM {dj}"
        f"{_where_sql(catalog, mv)}"
    )


def _with_kahan_state(state: DataFrame, mv: Dict) -> DataFrame:
    """Append zeroed Kahan compensation columns for the view's FLOAT
    sum/avg aggregates.  Exact types (int/bigint/decimal) maintain
    exactly under +/− deltas; a double sum accumulates one rounding
    error per refresh FOREVER (the view never re-reads the corpus), so
    each float sum carries a hidden compensation term and every refresh
    applies one compensated-summation step (Kahan 1965) — the
    cross-refresh drift stays O(1) ulp instead of O(#refreshes)."""
    for alias in mv.get("float_sums", []):
        state = state.withColumn(f"__mv_kc_{alias}", F.lit(0.0))
    return state


def _physical_aggs(mv: Dict) -> List:
    """Aggregate Columns for the view's PHYSICAL schema, evaluated over
    normalized source rows.  Used by both the full build (sign=1) and
    the bounded rescan."""
    cols = [F.sum(F.lit(1)).alias(_STAR)]
    for a in mv["aggs"]:
        alias, c = a["alias"], a["col"]
        c = None if c is None else _flat_expr(mv, c)
        nn = (
            None
            if c is None
            else F.when(F.col(c).isNotNull(), 1).otherwise(0)
        )
        if a["fn"] == "count":
            cols.append(
                F.sum(F.lit(1) if nn is None else nn).alias(alias)
            )
        elif a["fn"] in ("min", "max"):
            # the extremum itself IS the physical state (NULL iff no
            # non-null value — min/max's own null semantics)
            agg_fn = F.min if a["fn"] == "min" else F.max
            cols.append(agg_fn(F.col(c)).alias(alias))
        else:  # sum / avg: hidden non-null count + raw sum
            cols.append(F.sum(nn).alias(f"__mv_cnt_{alias}"))
            cols.append(
                F.sum(F.when(F.col(c).isNotNull(), F.col(c))).alias(
                    f"__mv_sum_{alias}"
                )
            )
    return cols


def _user_projection(mv: Dict) -> List:
    """User-facing columns derived from the physical ones."""
    out = [F.col(c) for c in mv["group_names"]]
    for a in mv["aggs"]:
        alias = a["alias"]
        if a["fn"] in ("count", "min", "max"):
            out.append(F.col(alias))
        elif a["fn"] == "sum":
            out.append(
                F.when(
                    F.col(f"__mv_cnt_{alias}") > 0, F.col(f"__mv_sum_{alias}")
                ).alias(alias)
            )
        else:  # avg
            out.append(
                (F.col(f"__mv_sum_{alias}") / F.col(f"__mv_cnt_{alias}"))
                .alias(alias)
            )
    return out


def _mv_path(catalog, name: str) -> str:
    return os.path.join(catalog.table_path(catalog.get_table(name)), _MV_FILE)


def _load_mv(catalog, name: str) -> Dict:
    try:
        with open(_mv_path(catalog, name)) as fh:
            mv = json.load(fh)
    except OSError:
        raise ValueError(f"{name} is not a materialized view") from None
    # pre-join-view / pre-Kahan specs lack these keys
    mv.setdefault("group_names", mv["group_cols"])
    mv.setdefault("float_sums", [])
    # pre-n-source specs name one or two sources through flat keys: the
    # one place they are read, translated and dropped
    if "sources" not in mv:
        mv["sources"] = [{"name": mv["source"], "alias": mv.get("alias")}]
        mv["joins"] = []
        if mv.get("source2"):
            mv["sources"].append(
                {"name": mv["source2"], "alias": mv.get("alias2")}
            )
            mv["joins"].append(mv.get("join_on") or [])
    if "last_seqs" not in mv:
        mv["last_seqs"] = [mv.get("last_seq") or 0]
        if mv.get("source2"):
            mv["last_seqs"].append(mv.get("last_seq2") or 0)
    for key in ("source", "alias", "source2", "alias2", "join_on",
                "last_seq", "last_seq2"):
        mv.pop(key, None)
    return mv


def _save_mv(catalog, name: str, mv: Dict) -> None:
    path = _mv_path(catalog, name)
    with open(path + ".tmp", "w") as fh:
        json.dump(mv, fh)
    os.replace(path + ".tmp", path)


def _register_user_view(catalog, name: str, mv: Dict) -> None:
    """Install the matview's user-facing binding (hidden __mv_*
    support columns projected away) as the table's VIEW OVERRIDE: the
    catalog's lazy view refresh calls it instead of the physical-schema
    registration on every rebind, so a refresh after any write keeps
    showing the user projection."""
    spec = catalog.get_table(name)

    def _bind() -> None:
        df = catalog.read(name).select(*_user_projection(mv))
        df.createOrReplaceTempView(catalog._view_name(spec))
        if spec.database == catalog.default_database:
            df.createOrReplaceTempView(spec.name)

    catalog._view_overrides[spec.qualified_name] = _bind
    # bind lazily: the catalog's refresh at the next read boundary calls
    # the override — a refresh cycle of N writes pays ONE bind, not N
    catalog._stale_views.add(spec.qualified_name)


def _anchors_now(catalog, mv: Dict) -> List[int]:
    """Per-source refresh anchors = the highest COMMITTED seq visible
    from ANY session (r6: the raw in-memory counter is empty in a fresh
    session, which silently no-opped cross-session refreshes; inflight
    reservations are excluded so an anchor can never skip a statement
    whose data hasn't landed yet)."""
    return [
        catalog._committed_seq(catalog.get_table(s["name"]))
        for s in mv["sources"]
    ]


def _full_state(catalog, mv: Dict, his: List[int]) -> DataFrame:
    rows = _normalized_source(catalog, mv, his)
    state = rows.groupBy(*mv["group_names"]).agg(*_physical_aggs(mv))
    return _with_kahan_state(state, mv)


def _pinned_state(catalog, mv: Dict, his: List[int]):
    """Full build state, materialized exactly once and pinned: returns
    (DataFrame, collected_rows_or_None).  A state within the catalog's
    driver-local row cap (_collect_capped, shared with the refresh
    delta) comes back as a ONE-slice local frame — one job, no toRdd
    checkpoint planning, and callers can answer row-level probes in
    plain python; larger states eager-checkpoint."""
    from fluss_datafusion_spark.catalog.catalog import _collect_capped

    state_df = _full_state(catalog, mv, his)
    rows = _collect_capped(state_df)
    if rows is not None:
        local = catalog.spark.createDataFrame(
            catalog.spark.sparkContext.parallelize(rows, 1),
            state_df.schema,
        )
        return local, rows
    return state_df.localCheckpoint(), None


def create_matview(catalog, name: str, select_sql: str) -> int:
    """CREATE MATERIALIZED VIEW: parse, validate against the source(s),
    create the backing PK table, run the initial full build, checkpoint
    the source seq(s).  Returns the number of groups materialized."""
    with catalog.defer_auto_compact():
        return _create_matview_impl(catalog, name, select_sql)


def _create_matview_impl(catalog, name: str, select_sql: str) -> int:
    mv = parse_matview_select(select_sql)
    is_join = len(mv["sources"]) > 1
    col_sets = {}
    for s in mv["sources"]:
        src_spec = catalog.get_table(s["name"])
        if not src_spec.has_primary_key:
            raise ValueError(
                "materialized views require primary-key sources (the "
                "changelog derivation needs PK semantics); "
                f"{src_spec.qualified_name} is a log table"
            )
        col_sets[s["alias"]] = {c.name for c in src_spec.columns}
    referenced = list(mv["group_cols"]) + [
        a["col"] for a in mv["aggs"] if a["col"] is not None
    ]
    referenced += [
        r for pairs in mv["joins"] for pair in pairs for r in pair
    ]
    missing = []
    for ref in referenced:
        al, col = (
            ref.split(".") if is_join else (mv["sources"][0]["alias"], ref)
        )
        if col not in col_sets[al]:
            missing.append(ref)
    if missing:
        raise ValueError(f"unknown source columns: {sorted(set(missing))}")

    # checkpoint BEFORE building, and build AT the checkpoint (as-of
    # reads) so a concurrent write between checkpoint and build is
    # applied exactly once — by the next refresh
    his = _anchors_now(catalog, mv)
    # materialize once: the null-group check and the insert below would
    # otherwise each re-run the full build aggregation.  Small builds
    # (≤10k groups) pin as driver-local rows — the refresh path's r9
    # trick — which also folds the null-group probe job into plain
    # python; larger builds keep the eager checkpoint.
    state, local_rows = _pinned_state(catalog, mv, his)
    # float sums get a Kahan compensation column (exact types don't)
    double_fields = {
        f.name
        for f in state.schema.fields
        if f.dataType.typeName() in ("double", "float")
    }
    mv["float_sums"] = [
        a["alias"]
        for a in mv["aggs"]
        if a["fn"] in ("sum", "avg")
        and f"__mv_sum_{a['alias']}" in double_fields
    ]
    state = _with_kahan_state(state, mv)
    if local_rows is not None:
        # same predicate as the chained filters below: every group col
        # null (the conjunction the DataFrame form expresses)
        has_null_group = any(
            all(r[g] is None for g in mv["group_names"])
            for r in local_rows
        )
    else:
        null_groups = state
        for g in mv["group_names"]:
            null_groups = null_groups.filter(F.col(g).isNull())
        has_null_group = null_groups.limit(1).count() > 0
    if has_null_group:
        raise ValueError(
            "GROUP BY columns become the view's PRIMARY KEY and must be "
            "non-null; add e.g. 'col IS NOT NULL' to the WHERE clause"
        )

    cols = [
        ColumnSpec(
            name=f.name,
            type_name=spark_type_to_ddl(f.dataType),
            nullable=f.name not in mv["group_names"],
        )
        for f in state.schema.fields
    ]
    db, table = catalog._resolve(name)
    catalog.create_table(
        TableSpec(
            database=db,
            name=table,
            columns=cols,
            primary_key=list(mv["group_names"]),
            properties={"materialized_view": "true"},
        ),
        if_not_exists=False,
    )
    n = catalog.insert(name, state)
    mv["last_seqs"] = his
    _save_mv(catalog, name, mv)
    _register_user_view(catalog, name, mv)
    return n


def refresh_matview(catalog, name: str) -> Dict[str, int]:
    """REFRESH MATERIALIZED VIEW: apply the source(s)' bounded change
    stream since the last checkpoint.  Returns
    {"upserted": n, "deleted": n, "full_rebuild": 0|1}.

    Runs under ``defer_auto_compact``: a refresh issues several writes
    whose delta plans read earlier state — policy compaction of the
    view's backing table must wait for the statement boundary.

    CONCURRENTLY-safe (r6): the refresh reserves its seqs on the view's
    backing table with the commit protocol's base expectation and
    re-validates the checkpoint after reserving, so two sessions
    refreshing one view can never DOUBLE-APPLY a change window — the
    loser detects the winner's commit, reloads the advanced checkpoint,
    and re-runs (usually a no-op).  Readers were always non-blocking
    (merge-on-read snapshots)."""
    from fluss_datafusion_spark.catalog.catalog import ConcurrentWriteConflict

    with catalog.defer_auto_compact():
        for _ in range(3):
            try:
                return _refresh_matview_impl(catalog, name)
            except ConcurrentWriteConflict:
                continue  # winner advanced the checkpoint: recompute
        return _refresh_matview_impl(catalog, name)


def _count_delta_groups(local_rows) -> Tuple[int, int, int]:
    """(n_rescan, n_up, n_dead) of a collected merged delta: alive
    groups needing a bounded rescan, alive groups upserted as they
    are, and dead groups that existed before the window."""
    n_rescan = n_up = n_dead = 0
    for r in local_rows:
        if r[_STAR] > 0:
            if r["__mv_rescan__"]:
                n_rescan += 1
            else:
                n_up += 1
        elif r["__mv_existed__"]:
            n_dead += 1
    return n_rescan, n_up, n_dead


def _reserve_refresh_seq(catalog, spec, mv: Dict, view_base: int) -> int:
    """CONCURRENTLY guard of a refresh write: reserve its seq against
    the view-table base captured before the checkpoint load, then
    re-validate the checkpoint itself — a concurrent refresh either
    conflicts the reservation or shows up as moved ``last_seqs``; both
    release the seq and abort BEFORE any append (the retry loop in
    refresh_matview re-runs against the winner's state)."""
    from fluss_datafusion_spark.catalog.catalog import ConcurrentWriteConflict

    seq_ref = catalog._reserve_seqs(spec, 1, expect_base=view_base)[0]
    fresh = _load_mv(catalog, spec.qualified_name)
    if fresh["last_seqs"] != mv["last_seqs"]:
        catalog._release_seqs(spec, [seq_ref])
        raise ConcurrentWriteConflict(
            f"materialized view {spec.qualified_name} was refreshed "
            "concurrently; nothing was written — re-running against the "
            "new checkpoint"
        )
    return seq_ref


def _try_local_refresh_write(catalog, spec, mv, local_rows, view_base):
    """Driver-local refresh write (see the call site): derive the fused
    upsert/tombstone rows from the collected merged delta with the SAME
    row-wise rules as the Spark fused plan — keep (alive & !rescan) |
    (!alive & existed); non-key payloads null on dead groups; flag =
    !alive — and append them through catalog._local_write_rows under
    the same reserve-validate-write concurrency protocol.  Returns the
    refresh result dict, or None when any group needs a bounded rescan
    (the Spark path handles the rescan union) or a column type is
    outside the local writer's support."""
    from fluss_datafusion_spark.catalog.catalog import _local_write_ok

    if not _local_write_ok(spec):
        return None
    target = spec.spark_schema()
    n_rescan, n_up, n_dead = _count_delta_groups(local_rows)
    if n_rescan > 0:
        return None
    pk = set(spec.primary_key)
    cols = {f.name: [] for f in target.fields}
    flags = []
    for r in local_rows:
        alive = r[_STAR] > 0
        if not (alive or r["__mv_existed__"]):
            continue  # phantom group: born and retracted inside the window
        for f in target.fields:
            cols[f.name].append(
                r[f.name] if (f.name in pk or alive) else None
            )
        flags.append(not alive)
    seq_ref = _reserve_refresh_seq(catalog, spec, mv, view_base)
    catalog._local_write_rows(
        spec,
        cols,
        deleted=False,
        del_flags=flags,
        reserved_seq=seq_ref,
        expect_base=None,
        branch=None,
    )
    return {"upserted": n_up, "deleted": n_dead, "full_rebuild": 0}


def _refresh_matview_impl(catalog, name: str) -> Dict[str, int]:
    spec = catalog.get_table(name)
    # concurrency base: captured BEFORE the checkpoint load, so a
    # concurrent refresh that appends after this point moves the view
    # table past our expectation and the reservation below conflicts
    view_base = catalog._latest_seq(spec)
    mv = _load_mv(catalog, name)
    his = _anchors_now(catalog, mv)
    if all(hi <= lo for hi, lo in zip(his, mv["last_seqs"])):
        _register_user_view(catalog, name, mv)
        return {"upserted": 0, "deleted": 0, "full_rebuild": 0}

    def _checkpoint():
        mv["last_seqs"] = his
        _save_mv(catalog, name, mv)
        _register_user_view(catalog, name, mv)

    try:
        rows = _delta_rows(catalog, mv, his, mv["last_seqs"])
    except ValueError:
        # a source compacted past our checkpoint: the exact change
        # window is gone — rebuild from the snapshot (the standard
        # CDC-consumer fallback), then checkpoint at the anchors
        state, _rows = _pinned_state(catalog, mv, his)
        catalog.truncate_table(name)
        n = catalog.insert(name, state)
        _checkpoint()
        return {"upserted": n, "deleted": 0, "full_rebuild": 1}

    sign = F.col(_SIGN)
    delta_cols = [F.sum(sign).alias(f"__d_{_STAR}")]
    for a in mv["aggs"]:
        alias, c = a["alias"], a["col"]
        c = None if c is None else _flat_expr(mv, c)
        nn_sign = (
            sign
            if c is None
            else F.when(F.col(c).isNotNull(), sign).otherwise(0)
        )
        if a["fn"] == "count":
            delta_cols.append(F.sum(nn_sign).alias(f"__d_{alias}"))
        elif a["fn"] in ("min", "max"):
            # inserted-side extremum maintains the easy direction; the
            # retracted-side extremum decides whether the group needs a
            # bounded rescan (a retraction at-or-past the stored
            # extremum invalidates it — the non-self-maintainable case)
            agg_fn = F.min if a["fn"] == "min" else F.max
            delta_cols.append(
                agg_fn(F.when(sign > 0, F.col(c))).alias(f"__d_ins_{alias}")
            )
            delta_cols.append(
                agg_fn(F.when(sign < 0, F.col(c))).alias(f"__d_ret_{alias}")
            )
        else:
            delta_cols.append(F.sum(nn_sign).alias(f"__d_cnt_{alias}"))
            delta_cols.append(
                F.sum(
                    F.when(F.col(c).isNotNull(), sign * F.col(c)).otherwise(
                        F.lit(None)
                    )
                ).alias(f"__d_sum_{alias}")
            )
    delta = rows.groupBy(*mv["group_names"]).agg(*delta_cols)

    # only groups the window touched: delta LEFT-joins the view state
    merged = delta.join(catalog.read(name), mv["group_names"], "left")
    add = lambda old, d: (  # noqa: E731
        F.coalesce(F.col(old), F.lit(0)) + F.coalesce(F.col(d), F.lit(0))
    )
    new_cols = {_STAR: add(_STAR, f"__d_{_STAR}")}
    rescan_flags = []
    for a in mv["aggs"]:
        alias = a["alias"]
        if a["fn"] == "count":
            new_cols[alias] = add(alias, f"__d_{alias}")
        elif a["fn"] in ("min", "max"):
            # maintained path: fold the inserted-side extremum in
            # (least/greatest skip NULLs, matching min/max semantics)
            fold = F.least if a["fn"] == "min" else F.greatest
            new_cols[alias] = fold(F.col(alias), F.col(f"__d_ins_{alias}"))
            ret = F.col(f"__d_ret_{alias}")
            breaches = (
                ret <= F.col(alias) if a["fn"] == "min" else ret >= F.col(alias)
            )
            rescan_flags.append(
                ret.isNotNull() & (F.col(alias).isNull() | breaches)
            )
        else:
            new_cols[f"__mv_cnt_{alias}"] = add(
                f"__mv_cnt_{alias}", f"__d_cnt_{alias}"
            )
            if alias in mv["float_sums"]:
                # one compensated-summation step per refresh: the
                # window's delta is the increment, the hidden
                # compensation absorbs the rounding (see _with_kahan_state)
                s = F.coalesce(F.col(f"__mv_sum_{alias}"), F.lit(0.0))
                c = F.coalesce(F.col(f"__mv_kc_{alias}"), F.lit(0.0))
                d = F.coalesce(F.col(f"__d_sum_{alias}"), F.lit(0.0))
                y = d - c
                total = s + y
                alive = new_cols[f"__mv_cnt_{alias}"] > 0
                new_cols[f"__mv_sum_{alias}"] = F.when(alive, total)
                new_cols[f"__mv_kc_{alias}"] = F.when(
                    alive, (total - s) - y
                ).otherwise(F.lit(0.0))
            else:
                new_cols[f"__mv_sum_{alias}"] = F.when(
                    new_cols[f"__mv_cnt_{alias}"] > 0,
                    add(f"__mv_sum_{alias}", f"__d_sum_{alias}"),
                )
    needs_rescan = F.lit(False)
    for flag in rescan_flags:
        needs_rescan = needs_rescan | flag
    merged = merged.select(
        *mv["group_names"],
        F.col(_STAR).isNotNull().alias("__mv_existed__"),
        needs_rescan.alias("__mv_rescan__"),
        *[c.alias(n) for n, c in new_cols.items()],
    )
    # Pinning against the self-read below (the fused write reads merged,
    # and merged's plan reads the view table the write appends to), two
    # ways by delta size (r9):
    #
    #   SMALL (the normal incremental case): collect the merged delta to
    #   the driver and rebuild it as a LOCAL DataFrame with the exact
    #   same schema — one job total, perfect pinning (the data left the
    #   cluster), and it replaces BOTH the lazy-checkpoint toRdd planning
    #   (~0.38 s of Catalyst work per refresh, r9 profile) and the
    #   separate stats job (counts come from the collected rows).  The
    #   cap bounds driver memory; a refresh window touching ≤10k groups
    #   is by far the common shape.
    #
    #   LARGE: fall back to the r8 design — lazy checkpoint + one stats
    #   job that materializes it.  The probe's limit-collect is one
    #   extra early-exiting job on this path; large refreshes are
    #   compute-dominated, so it's noise there.
    from fluss_datafusion_spark.catalog.catalog import _collect_capped

    local_rows = _collect_capped(merged)
    schema_order = [c.name for c in spec.columns]
    if local_rows is not None:
        # r12 driver-local write: the fused upsert/tombstone rows are a
        # pure row-wise function of the ALREADY-COLLECTED delta — when
        # no group needs a rescan, compute them here and write one
        # pyarrow file through catalog._local_write_rows instead of
        # round-tripping the rows through a python-RDD parallelize + a
        # Spark write job (guide §1.2; measured: the refresh write job
        # was ~0.4-0.75 s of the ~2 s warm refresh).  Equivalence with
        # the Spark fused plan is pinned by tests/test_local_append.py
        # (test_matview_local_refresh_parity /
        # test_matview_rescan_falls_back); any disqualifier returns
        # None and the r9 path below runs unchanged.
        local = _try_local_refresh_write(
            catalog, spec, mv, local_rows, view_base
        )
        if local is not None:
            _checkpoint()
            return local
        # ONE-slice parallelize, NOT createDataFrame(rows, schema): the
        # latter splits a 170-row list across defaultParallelism python
        # tasks and the downstream write pays ~4.5 s of worker round
        # trips (measured); one slice is one ~150 ms task and row
        # objects round-trip exactly (no pandas type mangling)
        merged = catalog.spark.createDataFrame(
            catalog.spark.sparkContext.parallelize(local_rows, 1),
            merged.schema,
        )
        n_rescan, n_up, n_dead = _count_delta_groups(local_rows)
        n_up += n_rescan
    else:
        merged = _lazy_checkpoint(merged)
        # ONE stats pass over the checkpointed frame (r8): materializes
        # the checkpoint AND returns every count downstream decisions
        # need — the rescan probe, the upsert/delete split for the
        # result dict, and the touched-group total.
        alive0 = F.col(_STAR) > 0
        stats = merged.agg(
            F.sum(
                F.when(alive0 & F.col("__mv_rescan__"), 1).otherwise(0)
            ).alias("n_rescan"),
            F.sum(
                F.when(alive0 & ~F.col("__mv_rescan__"), 1).otherwise(0)
            ).alias("n_up"),
            F.sum(
                F.when(~alive0 & F.col("__mv_existed__"), 1).otherwise(0)
            ).alias("n_dead"),
        ).collect()[0]
        n_rescan = int(stats["n_rescan"] or 0)
        n_dead = int(stats["n_dead"] or 0)
        n_up = int(stats["n_up"] or 0) + n_rescan
    alive = F.col(_STAR) > 0
    # bounded rescan: groups whose stored extremum was retracted are
    # recomputed from the source — a semi-join-restricted scan touching
    # only those groups' rows, never the whole view (dead groups skip
    # the rescan: they are tombstoned regardless).  The rescan reads
    # AS-OF the window's anchors, so a write racing this refresh is
    # counted exactly once — by the next refresh.
    rescan_keys = merged.filter(
        (F.col(_STAR) > 0) & F.col("__mv_rescan__")
    ).select(*mv["group_names"])
    # the rescan subtree joins the full source(s): skip it entirely
    # unless some group actually flagged (merged is pinned — local
    # rows or a checkpoint — so probing it never recomputes the delta)
    rescanned = None
    if rescan_flags and n_rescan > 0:
        rescanned = _with_kahan_state(
            _normalized_source(catalog, mv, his)
            .join(rescan_keys, mv["group_names"], "left_semi")
            .groupBy(*mv["group_names"])
            .agg(*_physical_aggs(mv)),
            mv,  # a rescan recomputes from scratch: compensation resets
        ).select(*schema_order)
    seq_ref = _reserve_refresh_seq(catalog, spec, mv, view_base)
    # ONE append under ONE seq (r7 statement batching), ONE pass over
    # the checkpoint (r8): upserts and tombstones come out of a single
    # filter+select — a per-row CASE nulls the non-key payload of dead
    # groups (phantom groups — born and fully retracted inside one
    # window — match neither branch and get no tombstone; they were
    # never in the view).  The previous union re-scanned the
    # checkpointed frame once per branch and doubled the write plan.
    # The upsert/delete split for the result dict came from the stats
    # pass above — the write carries no observation listener.
    target = spec.spark_schema()
    flag = "__mv_tomb__"
    keep = (alive & ~F.col("__mv_rescan__")) | (~alive & F.col("__mv_existed__"))
    fused = merged.filter(keep).select(
        *[
            (
                F.col(f.name)
                if f.name in spec.primary_key
                else F.when(alive, F.col(f.name)).otherwise(F.lit(None))
            )
            .cast(f.dataType)
            .alias(f.name)
            for f in target.fields
        ],
        (~alive).alias(flag),
    )
    if rescanned is not None:
        rescanned_aligned = rescanned.select(
            *[
                F.col(src).cast(f.dataType).alias(f.name)
                for src, f in zip(rescanned.columns, target.fields)
            ]
        )
        fused = fused.unionByName(
            rescanned_aligned.withColumn(flag, F.lit(False))
        )
    # the stats pass already counted the write exactly: a small delta
    # pre-shapes to one output file here (no AQE rebalance stage — the
    # shuffle would cost more than it saves), a large one keeps its
    # partitioning and lets _append_log's optimized write size the files
    small = (n_up + n_dead) <= 100_000 and rescanned is None
    if small:
        fused = fused.coalesce(1)
    catalog._append_log(
        spec,
        fused,
        deleted=False,
        reserved_seq=seq_ref,
        deleted_col=flag,
        distribute=not small,
    )
    _checkpoint()
    return {"upserted": n_up, "deleted": n_dead, "full_rebuild": 0}


def is_matview(catalog, name: str) -> bool:
    return os.path.exists(_mv_path(catalog, name))


def matview_refresh_sink(catalog, name: str, checkpoint: str):
    """CONTINUOUS materialized-view maintenance: follow the source
    table's log directory (both sources' for a join view) as a file
    stream and re-run :func:`refresh_matview` on every new commit — the
    Delta Live Tables / Materialize "always fresh" mode, driven by the
    same exactly-once machinery as manual REFRESH.

    The stream is purely the TRIGGER: each micro-batch's content is
    discarded, and the refresh itself reads the bounded CDC window from
    the view's seq checkpoint, so duplicate triggers, replays after
    restart, and commits that race a running batch are all absorbed by
    the checkpoint (a refresh that sees no new seq is a no-op).  That
    keeps one delta implementation — no drift between batch and
    streaming maintenance.

    Runs with availableNow (catch up over the retained log, then stop —
    call again to catch up further); swap the trigger for a continuous
    deployment.  Returns the StreamingQuery.
    """
    mv = _load_mv(catalog, name)
    sources = [s["name"] for s in mv["sources"]]
    streams = []
    for src in sources:
        src_spec = catalog.get_table(src)
        streams.append(
            catalog.spark.readStream.schema(catalog._stored_schema(src_spec))
            .parquet(catalog.table_path(src_spec))
            .select(F.lit(1).alias("__trigger__"))
        )
    stream = reduce(DataFrame.unionByName, streams)

    def _apply(batch_df, batch_id):
        refresh_matview(catalog, name)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
