"""Columnar (parquet) checkpoint manifests + vectorized file pruning.

At 10⁵ files the VersionedLake's single-JSON full checkpoint is fine
(SCALE_r12 §1: 1.0 s write / 1.8 s cold resolve); at 10⁶ it is not
(measured this round: 9.2 s serialize per checkpoint commit, 433 MB on
disk, 13 s cold parse — and any per-file-JSON variant is WORSE, because
materializing 10⁶ Python dicts costs ~15 s regardless of format).  The
fix is the one Delta ships: the periodic checkpoint becomes a PARQUET
table — one row per live file, zone-map stats as native typed columns —
so a cold reader loads it in ~2 s at 10⁶ files (4 MB zstd), and
``scan()`` pruning evaluates predicates with Arrow compute kernels over
the stat columns instead of walking Python dicts: vectorized planning in
milliseconds where the dict walk took ~0.7 s AFTER a 13 s parse.

Layout (one row per file):

- ``rel`` (string), ``rows`` (int64);
- per stats-eligible column ``c``: ``mn:c`` / ``mx:c`` (typed by the
  TABLE schema: ints → int64, floats → float64, bool → bool, everything
  string-encoded by ``_encode_stat`` → string), ``nl:c`` (int64), and
  for declared dictionary columns ``dv:c`` (list of the same type);
- per partition column ``p``: ``pt:p`` (string, hive value unquoted,
  NULL for ``__HIVE_DEFAULT_PARTITION__``).

Correctness contract, same as the dict path: a vector mask is a KEEP
mask — any null/undecidable comparison keeps the file, every op prunes
only on proof, and ``scan()`` always applies the residual Spark filter,
so the vector path can only cut IO, never change results.  The dict
evaluator (``VersionedLake._file_may_match``) remains the semantics
reference; ``tests/test_ckpt_vector.py`` fuzzes both over random stats
and asserts the vector keep-set never drops a file the dict path keeps.
"""

from __future__ import annotations

import json
import math
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import types as T

__all__ = [
    "ckpt_from_dicts",
    "ckpt_to_dicts",
    "ckpt_advance",
    "ckpt_to_bytes",
    "ckpt_from_bytes",
    "vector_keep_rels",
    "spark_keep_rels",
]

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _stat_arrow_type(dtype) -> pa.DataType | None:
    """Arrow type of a column's ENCODED stats (mirrors ``_encode_stat``:
    dates/timestamps/strings encode as strings)."""
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return pa.int64()
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return pa.float64()
    if isinstance(
        dtype,
        (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType),
    ):
        return pa.string()
    if isinstance(dtype, T.DecimalType):
        # bounds are UNSCALED integers against the declared scale
        # (manifest._encode_stat); precision > 18 would overflow int64
        # and is not stats-eligible
        return pa.int64() if dtype.precision <= 18 else None
    return None


def _stat_columns(schema: T.StructType, partition_by: list[str]):
    """(name, arrow_type) per stats-eligible non-partition column."""
    parts = set(partition_by or [])
    out = []
    for f in schema.fields:
        if f.name in parts:
            continue
        at = _stat_arrow_type(f.dataType)
        if at is not None:
            out.append((f.name, at))
    return out


def _typed_array(values: list, at: pa.DataType) -> pa.Array:
    """Build a typed array, degrading any value that does not fit the
    declared type to NULL (keep-the-file semantics for stats recorded
    under an evolved column type)."""
    try:
        return pa.array(values, type=at)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        coerced = []
        for v in values:
            try:
                coerced.append(
                    pa.array([v], type=at)[0].as_py() if v is not None else None
                )
            except Exception:
                coerced.append(None)
        return pa.array(coerced, type=at)


def ckpt_from_dicts(
    files: list[str],
    stats: dict,
    schema: T.StructType,
    partition_by: list[str] | None,
) -> pa.Table:
    """Checkpoint table from the JSON-manifest dict representation —
    the transition path the first parquet checkpoint of an existing
    table (and every small table) goes through."""
    import base64

    parts = list(partition_by or [])
    cols: dict[str, list] = {"rel": [], "rows": []}
    stat_cols = _stat_columns(schema, parts)
    # bloom blobs ride as binary columns; the declared set is whatever
    # the stats dicts actually carry (a file without an index stays
    # null — probe-side keep)
    bloom_cols = sorted(
        {
            c
            for st in stats.values()
            for c in (st.get("bf") or {})
        }
    )
    for name, _ in stat_cols:
        cols[f"mn:{name}"] = []
        cols[f"mx:{name}"] = []
        cols[f"nl:{name}"] = []
        cols[f"dv:{name}"] = []
    for b in bloom_cols:
        cols[f"bf:{b}"] = []
    for p in parts:
        cols[f"pt:{p}"] = []
    for rel in files:
        st = stats.get(rel) or {}
        c = st.get("cols") or {}
        pt = st.get("part") or {}
        bf = st.get("bf") or {}
        cols["rel"].append(rel)
        cols["rows"].append(st.get("rows"))
        for name, _ in stat_cols:
            e = c.get(name)
            cols[f"mn:{name}"].append(None if e is None else e.get("mn"))
            cols[f"mx:{name}"].append(None if e is None else e.get("mx"))
            cols[f"nl:{name}"].append(None if e is None else e.get("nl"))
            cols[f"dv:{name}"].append(None if e is None else e.get("vals"))
        for b in bloom_cols:
            raw = bf.get(b)
            cols[f"bf:{b}"].append(
                None if raw is None else base64.b85decode(raw)
            )
        for p in parts:
            pv = pt.get(p)
            cols[f"pt:{p}"].append(
                None if pv is None or pv == _HIVE_NULL else unquote(pv)
            )
    arrays, fields = [], []
    arrays.append(pa.array(cols["rel"], pa.string()))
    fields.append(pa.field("rel", pa.string()))
    arrays.append(_typed_array(cols["rows"], pa.int64()))
    fields.append(pa.field("rows", pa.int64()))
    for name, at in stat_cols:
        arrays.append(_typed_array(cols[f"mn:{name}"], at))
        fields.append(pa.field(f"mn:{name}", at))
        arrays.append(_typed_array(cols[f"mx:{name}"], at))
        fields.append(pa.field(f"mx:{name}", at))
        arrays.append(_typed_array(cols[f"nl:{name}"], pa.int64()))
        fields.append(pa.field(f"nl:{name}", pa.int64()))
        arrays.append(_typed_array(cols[f"dv:{name}"], pa.list_(at)))
        fields.append(pa.field(f"dv:{name}", pa.list_(at)))
    for b in bloom_cols:
        arrays.append(pa.array(cols[f"bf:{b}"], pa.binary()))
        fields.append(pa.field(f"bf:{b}", pa.binary()))
    for p in parts:
        arrays.append(pa.array(cols[f"pt:{p}"], pa.string()))
        fields.append(pa.field(f"pt:{p}", pa.string()))
    return pa.table(arrays, schema=pa.schema(fields))


def ckpt_to_dicts(tbl: pa.Table) -> dict[str, dict]:
    """Inverse of :func:`ckpt_from_dicts`: re-materialize the sidecar
    rows as JSON-manifest per-file stats dicts.  ``delete_where`` calls
    it on the candidate rows only, because its all-rows-match test reads
    the dict form.  O(rows passed) Python dicts by construction — pass
    a filtered table, never a whole large sidecar.

    Encoding notes: a column entry exists iff its null count is non-null
    (``ckpt_from_dicts`` writes all-None triples for absent entries); a
    file with a null ``rows`` carried no stats at all and gets no dict
    entry (stats-less keep).  Hive partition values are re-quoted with
    ``urllib.parse.quote(safe='')`` — the dict evaluator only ever
    compares ``unquote(pv)``, and ``unquote∘quote`` is exact, so the
    round-trip is sound even where hive's own escape set differs."""
    from urllib.parse import quote

    import base64

    names = tbl.column_names
    stat_names = [n[3:] for n in names if n.startswith("mn:")]
    part_names = [n[3:] for n in names if n.startswith("pt:")]
    bloom_names = [n[3:] for n in names if n.startswith("bf:")]
    data = {n: tbl.column(n).to_pylist() for n in names}
    out: dict[str, dict] = {}
    for i, rel in enumerate(data["rel"]):
        rows = data["rows"][i]
        if rows is None:
            continue
        cols: dict[str, dict] = {}
        for c in stat_names:
            nlv = data[f"nl:{c}"][i]
            if nlv is None:
                continue
            e: dict = {
                "mn": data[f"mn:{c}"][i],
                "mx": data[f"mx:{c}"][i],
                "nl": int(nlv),
            }
            dv = data.get(f"dv:{c}")
            if dv is not None and dv[i] is not None:
                e["vals"] = list(dv[i])
            cols[c] = e
        st: dict = {"rows": int(rows), "cols": cols}
        bf = {}
        for b in bloom_names:
            raw = data[f"bf:{b}"][i]
            if raw is not None:
                bf[b] = base64.b85encode(bytes(raw)).decode("ascii")
        if bf:
            st["bf"] = bf
        if part_names:
            st["part"] = {
                p: (
                    _HIVE_NULL
                    if data[f"pt:{p}"][i] is None
                    else quote(data[f"pt:{p}"][i], safe="")
                )
                for p in part_names
            }
        out[rel] = st
    return out


def ckpt_advance(
    prev: pa.Table,
    removed: set[str],
    add_files: list[str],
    add_stats: dict,
    schema: T.StructType,
    partition_by: list[str] | None,
) -> pa.Table:
    """Next checkpoint from the previous one WITHOUT re-materializing
    the table as Python dicts: filter out removed rels (one is_in
    kernel), build the added files' rows from their (small) dict stats,
    and concatenate with schema unification — commit-time checkpoint
    cost stays O(table) only in Arrow kernels, never in Python."""
    if removed:
        keep = pc.invert(
            pc.is_in(prev.column("rel"), pa.array(sorted(removed), pa.string()))
        )
        prev = prev.filter(pc.fill_null(keep, True))  # order-preserving
    if not add_files:
        return prev
    add = ckpt_from_dicts(add_files, add_stats, schema, partition_by)
    out = pa.concat_tables([prev, add], promote_options="default")
    # keep the sidecar rel-sorted: readers materialize the live file
    # list with sorted(), which is near-O(n) on already-sorted input
    # (timsort) but pays the full n·log n on the concat tail — sorting
    # once at checkpoint write is amortized over every cold reader
    return out.sort_by("rel")


def ckpt_to_bytes(tbl: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink, compression="zstd")
    return sink.getvalue().to_pybytes()


def ckpt_from_bytes(data: bytes) -> pa.Table:
    return pq.read_table(pa.BufferReader(data))


# ---------------------------------------------------------------------------
# vectorized pruning
# ---------------------------------------------------------------------------


def _keep_all(n: int) -> pa.Array:
    return pa.array([True] * n, pa.bool_())


def _fill_keep(mask) -> pa.ChunkedArray | pa.Array:
    """Null comparison results mean 'undecidable' → keep."""
    return pc.fill_null(mask, True)


def _list_contains(list_arr, enc) -> tuple:
    """(contains, decidable) per row for a list column — membership via
    flatten + parent indices (slice-safe), no per-row Python."""
    import numpy as np

    la = (
        list_arr.combine_chunks()
        if isinstance(list_arr, pa.ChunkedArray)
        else list_arr
    )
    n = len(la)
    try:
        flat = pc.list_flatten(la)
        idx = pc.list_parent_indices(la)
        hit = pc.equal(flat, pa.scalar(enc, la.type.value_type))
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        return _keep_all(n), pa.array([False] * n, pa.bool_())
    hit_idx = idx.filter(pc.fill_null(hit, False)).to_numpy(
        zero_copy_only=False
    )
    contains_np = np.zeros(n, dtype=bool)
    contains_np[hit_idx] = True
    return pa.array(contains_np), la.is_valid()


def _unsafe_float_mask(enc, mn, mx):
    """Rows whose int bounds exceed 2^53 cannot be compared exactly
    against a float literal (Spark's own promotion rounds) → keep."""
    if not isinstance(enc, float) or not pa.types.is_integer(mn.type):
        return None
    lim = 2**53
    return pc.or_(
        pc.greater_equal(pc.abs(mn), lim), pc.greater_equal(pc.abs(mx), lim)
    )


def _conjunct_mask(tbl: pa.Table, pred: tuple, types: dict, encode) -> pa.Array:
    """KEEP mask of one conjunct — the vector twin of one iteration of
    ``VersionedLake._file_may_match``'s loop (same proofs, same
    conservative defaults)."""
    n = tbl.num_rows
    names = set(tbl.column_names)
    if len(pred) == 2 and pred[0] == "or":
        out = pa.array([False] * n, pa.bool_())
        for branch in pred[1]:
            out = pc.or_(out, _tree_mask(tbl, branch, types, encode))
        return out
    col, op, val = pred
    if f"pt:{col}" in names:
        pt = tbl.column(f"pt:{col}")
        if op == "is_null":
            return _fill_keep(pc.is_null(pt))
        if op == "is_not_null":
            return pc.is_valid(pt)

        def _dec(v) -> bool:
            import datetime as _dt

            return (
                isinstance(v, str)
                or (isinstance(v, int) and not isinstance(v, bool))
                or (
                    isinstance(v, _dt.date)
                    and not isinstance(v, _dt.datetime)
                )
            )

        if op == "=" and _dec(val):
            return pc.fill_null(pc.equal(pt, str(val)), False)
        if op == "in" and all(_dec(v) for v in val):
            return pc.fill_null(
                pc.is_in(pt, pa.array([str(v) for v in val], pa.string())),
                False,
            )
        if op == "!=":
            if _dec(val):
                return pc.fill_null(pc.not_equal(pt, str(val)), False)
            return pc.is_valid(pt)  # null partition never satisfies !=
        if op == "starts_with" and isinstance(val, str):
            return pc.fill_null(pc.starts_with(pt, pattern=val), False)
        return _keep_all(n)
    if f"mn:{col}" not in names or col not in types:
        return _keep_all(n)
    mn = tbl.column(f"mn:{col}")
    mx = tbl.column(f"mx:{col}")
    nl = tbl.column(f"nl:{col}")
    rows = tbl.column("rows")
    if op == "is_null":
        return _fill_keep(pc.invert(pc.equal(nl, 0)))
    if op == "is_not_null":
        return _fill_keep(pc.invert(pc.equal(nl, rows)))
    # every remaining op is null-rejecting: an all-null file (mn null
    # with nl == rows) is prunable; mn null otherwise keeps
    allnull_keep = _fill_keep(pc.invert(pc.equal(nl, rows)))
    undecided = pc.is_null(mn)

    def _with_allnull(range_keep) -> pa.Array:
        return pc.if_else(undecided, allnull_keep, _fill_keep(range_keep))

    try:
        if op == "between":
            lo, hi = encode(val[0], types[col]), encode(val[1], types[col])
            if lo is None or hi is None:
                return _keep_all(n)
            km = pc.and_(pc.greater_equal(mx, lo), pc.less_equal(mn, hi))
            for e in (lo, hi):
                u = _unsafe_float_mask(e, mn, mx)
                if u is not None:
                    km = pc.or_(km, u)
            return _with_allnull(km)
        if op == "in":
            encs = [encode(v, types[col]) for v in val]
            if any(e is None for e in encs):
                return _keep_all(n)
            km = pa.array([False] * n, pa.bool_())
            for e in encs:
                t = pc.and_(pc.less_equal(mn, e), pc.greater_equal(mx, e))
                u = _unsafe_float_mask(e, mn, mx)
                if u is not None:
                    t = pc.or_(t, u)
                km = pc.or_(km, pc.fill_null(t, True))
            dv_name = f"dv:{col}"
            if dv_name in names and all(
                isinstance(e, (int, float, str, bool)) for e in encs
            ):
                # declared dictionary: skip files whose value set
                # provably contains NONE of the literals (dict twin:
                # `vals is not None and all(e not in vals)`)
                dv = tbl.column(dv_name)
                any_hit = pa.array([False] * n, pa.bool_())
                unsafe_any = pa.array([False] * n, pa.bool_())
                decid = None
                for e in encs:
                    contains, decidable = _list_contains(dv, e)
                    if decid is None:
                        decid = decidable  # per-file vals presence —
                        # identical for every literal of the column
                    any_hit = pc.or_(any_hit, pc.fill_null(contains, False))
                    u2 = _unsafe_float_mask(e, mn, mx)
                    if u2 is not None:
                        unsafe_any = pc.or_(
                            unsafe_any, pc.fill_null(u2, False)
                        )
                dict_keep = pc.if_else(
                    pc.fill_null(decid, False), any_hit, _keep_all(n)
                )
                km = pc.and_(km, pc.or_(dict_keep, unsafe_any))
            return pc.if_else(undecided, allnull_keep, km)
        enc = encode(val, types[col])
        if enc is None:
            return _keep_all(n)
        if op == "starts_with":
            if not isinstance(enc, str):
                return _keep_all(n)
            from df_to_azure_spark.operators.manifest import (
                _NO_STAT,
                _truncated_upper_bound,
            )

            km = pc.greater_equal(mx, enc)
            up = _truncated_upper_bound(enc)
            if up is not _NO_STAT:
                km = pc.and_(km, pc.less(mn, up))
            return _with_allnull(km)
        if op == "=":
            km = pc.and_(pc.less_equal(mn, enc), pc.greater_equal(mx, enc))
            u = _unsafe_float_mask(enc, mn, mx)
            if u is not None:
                km = pc.or_(km, u)
            km = _with_allnull(km)
            dv_name = f"dv:{col}"
            if dv_name in names and isinstance(enc, (int, float, str, bool)):
                contains, decidable = _list_contains(tbl.column(dv_name), enc)
                u2 = _unsafe_float_mask(enc, mn, mx)
                dict_keep = pc.if_else(
                    pc.fill_null(decidable, False),
                    pc.fill_null(contains, True),
                    _keep_all(n),
                )
                if u2 is not None:
                    dict_keep = pc.or_(dict_keep, pc.fill_null(u2, False))
                km = pc.and_(km, _fill_keep(dict_keep))
            return km
        if op == "!=":
            km = pc.invert(pc.and_(pc.equal(mn, enc), pc.equal(mx, enc)))
            u = _unsafe_float_mask(enc, mn, mx)
            if u is not None:
                km = pc.or_(km, u)
            dv_name = f"dv:{col}"
            if dv_name in names and isinstance(enc, (int, float, str, bool)):
                # dict twin: a single-value set equal to the literal
                # proves the file constant — prunable for '!='
                dv = tbl.column(dv_name)
                contains, decidable = _list_contains(dv, enc)
                const_eq = pc.and_(
                    pc.and_(
                        pc.fill_null(decidable, False),
                        pc.fill_null(
                            pc.equal(pc.list_value_length(dv), 1), False
                        ),
                    ),
                    pc.fill_null(contains, False),
                )
                if u is not None:
                    const_eq = pc.and_(
                        const_eq, pc.invert(pc.fill_null(u, False))
                    )
                km = pc.and_(km, pc.invert(const_eq))
            return _with_allnull(km)
        if op == "<":
            km = pc.less(mn, enc)
        elif op == "<=":
            km = pc.less_equal(mn, enc)
        elif op == ">":
            km = pc.greater(mx, enc)
        else:  # >=
            km = pc.greater_equal(mx, enc)
        u = _unsafe_float_mask(enc, mn, mx)
        if u is not None:
            km = pc.or_(km, u)
        return _with_allnull(km)
    except (
        pa.ArrowInvalid,
        pa.ArrowTypeError,
        pa.ArrowNotImplementedError,
        TypeError,
        OverflowError,
    ):
        # literal not comparable to the stored column type (evolved
        # schema), or a scalar Arrow cannot represent (oversized int —
        # pyarrow raises plain TypeError/OverflowError there, not an
        # Arrow error) — same as the dict path's TypeError: keep
        return _keep_all(n)


def _tree_mask(tbl: pa.Table, predicates: list, types: dict, encode) -> pa.Array:
    out = _keep_all(tbl.num_rows)
    for pred in predicates:
        out = pc.and_(out, _conjunct_mask(tbl, pred, types, encode))
    return out


def _encode_literal(v, dtype):
    """``manifest._encode_stat`` narrowed to what Arrow kernels can
    consume: ONE literal-semantics implementation shared by the
    in-driver vector path and the distributed (mapInArrow) path —
    the cross-class temporal refusals, tz guard, and float exactness
    never fork.  None = undecidable here → keep (the dict evaluator
    still compares e.g. beyond-int64 literals exactly in Python)."""
    from df_to_azure_spark.operators.manifest import _NO_STAT, _encode_stat

    e = _encode_stat(v, dtype)
    if e is _NO_STAT:
        return None
    if isinstance(e, float) and not math.isfinite(e):
        return None
    if isinstance(e, int) and not isinstance(e, bool) and not (
        -(2**63) <= e < 2**63
    ):
        # beyond int64 (e.g. a decimal literal whose unscaled value
        # exceeds the column's own precision): Arrow cannot build the
        # scalar (raises plain TypeError, not ArrowInvalid)
        return None
    return e


def _predicate_sidecar_columns(predicates, all_names: set) -> set:
    """Sidecar columns a predicate tree can touch — the projection the
    distributed planner pushes into the parquet scan (reading 4 stat
    columns of a 10⁷-row sidecar instead of all of them is most of the
    win)."""
    need = {"rel", "rows"}
    stack = list(predicates)
    while stack:
        pred = stack.pop()
        if len(pred) == 2 and pred[0] == "or":
            for branch in pred[1]:
                stack.extend(branch)
            continue
        col = pred[0]
        for prefix in ("mn:", "mx:", "nl:", "dv:", "pt:"):
            name = f"{prefix}{col}"
            if name in all_names:
                need.add(name)
    return need


def _spark_prefilter(df, predicates: list, types: dict):
    """CONSERVATIVE JVM-side prefilter on the sidecar's stat columns,
    applied before the authoritative Arrow mask crosses rows into
    Python workers: without it, a 10⁷-row plan ships every stat column
    through Arrow IPC (~8 s); with it, a selective scan ships only the
    keep-candidate rows (~1 s, and parquet row-group skipping on the
    min/max columns engages for free).

    Soundness contract: every emitted condition keeps a SUPERSET of
    what ``_tree_mask`` keeps — undecidable stats (`mn` NULL) always
    pass, and any case with subtle cross-representation semantics
    (or-trees, in/!=/starts_with, float-vs-int 2^53 promotion, dict
    refinements, partition columns) emits NO prefilter at all, leaving
    the decision entirely to the shared Arrow evaluator."""
    from pyspark.sql import functions as F

    names = set(df.columns)
    cond = None
    for pred in predicates:
        if len(pred) == 2 and pred[0] == "or":
            continue
        col, op, val = pred
        mn, mx, nl = f"mn:{col}", f"mx:{col}", f"nl:{col}"
        if mn not in names or col not in types:
            continue
        at = _stat_arrow_type(types[col])
        if op == "is_null":
            keep = F.col(nl).isNull() | (F.col(nl) != 0)
        elif op == "is_not_null":
            keep = (
                F.col(nl).isNull()
                | F.col("rows").isNull()
                | (F.col(nl) != F.col("rows"))
            )
        else:
            if at is None:
                continue

            def _risky(e) -> bool:
                # float literal vs int64 stats (Spark promotes through
                # double, rounding above 2^53) or giant int vs float64
                # stats: both sides' promotion rules could disagree
                # with the Arrow evaluator — skip, keep everything
                if isinstance(e, bool):
                    return False
                if isinstance(e, float) and pa.types.is_integer(at):
                    return True
                if (
                    isinstance(e, int)
                    and pa.types.is_floating(at)
                    and abs(e) >= 2**53
                ):
                    return True
                return False

            if op == "between":
                lo = _encode_literal(val[0], types[col])
                hi = _encode_literal(val[1], types[col])
                if lo is None or hi is None or _risky(lo) or _risky(hi):
                    continue
                rng = (F.col(mx) >= F.lit(lo)) & (F.col(mn) <= F.lit(hi))
            elif op in ("=", "<", "<=", ">", ">="):
                enc = _encode_literal(val, types[col])
                if enc is None or _risky(enc):
                    continue
                if op == "=":
                    rng = (F.col(mn) <= F.lit(enc)) & (
                        F.col(mx) >= F.lit(enc)
                    )
                elif op == "<":
                    rng = F.col(mn) < F.lit(enc)
                elif op == "<=":
                    rng = F.col(mn) <= F.lit(enc)
                elif op == ">":
                    rng = F.col(mx) > F.lit(enc)
                else:
                    rng = F.col(mx) >= F.lit(enc)
            else:
                continue  # in / != / starts_with: Arrow mask only
            keep = F.col(mn).isNull() | rng
        cond = keep if cond is None else cond & keep
    return df.where(cond) if cond is not None else df


def spark_keep_rels(
    spark,
    path: str,
    predicates: list,
    schema: T.StructType,
    exclude: set[str],
) -> list[str]:
    """Distributed twin of :func:`vector_keep_rels`: the SAME Arrow
    mask (``_tree_mask`` — one evaluator, no third implementation)
    runs inside a ``mapInArrow`` job over the sidecar parquet, so at
    10⁷ files the driver never loads the checkpoint at all — the scan
    plan is a column-pruned parallel read plus a collect of only the
    KEPT rels.  ``exclude`` (post-root removes, O(delta) small) is
    subtracted driver-side."""
    types = {f.name: f.dataType for f in schema.fields}
    preds = predicates

    df = spark.read.parquet(path)
    need = _predicate_sidecar_columns(predicates, set(df.columns))
    df = df.select(*[c for c in df.columns if c in need])
    df = _spark_prefilter(df, predicates, types)

    def _part(batches):
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            mask = _tree_mask(tbl, preds, types, _encode_literal)
            mask = pc.and_(
                mask,
                _fill_keep(pc.invert(pc.equal(tbl.column("rows"), 0))),
            )
            out = tbl.filter(pc.fill_null(mask, True)).select(["rel"])
            yield from out.to_batches()

    kept = [r.rel for r in df.mapInArrow(_part, "rel string").collect()]
    if exclude:
        kept = [r for r in kept if r not in exclude]
    return kept


def vector_keep_rels(
    tbl: pa.Table,
    predicates: list,
    schema: T.StructType,
    exclude: set[str],
) -> list[str]:
    """Rels of checkpoint files the predicates cannot rule out, minus
    ``exclude`` (files removed by later delta commits).  Literal
    semantics come from :func:`_encode_literal` — ONE implementation
    shared with the dict path and the distributed planner."""
    types = {f.name: f.dataType for f in schema.fields}
    mask = _tree_mask(tbl, predicates, types, _encode_literal)
    # empty part files prune regardless of predicate
    mask = pc.and_(mask, _fill_keep(pc.invert(pc.equal(tbl.column("rows"), 0))))
    if exclude:
        mask = pc.and_(
            mask,
            pc.invert(
                pc.fill_null(
                    pc.is_in(
                        tbl.column("rel"),
                        pa.array(sorted(exclude), pa.string()),
                    ),
                    False,
                )
            ),
        )
    return tbl.column("rel").filter(pc.fill_null(mask, True)).to_pylist()