"""Property-based check of the upsert algebra against an in-Python
reference model (hypothesis generates key/value frames; the distributed
anti-join+union must match dict-semantics row-level upsert exactly)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from df_to_azure_spark.operators.upsert import upsert_frames

ROWS = st.lists(
    st.tuples(st.integers(0, 20), st.integers(-1000, 1000)),
    min_size=0,
    max_size=25,
)


def _dedup_keys(rows):
    seen, out = set(), []
    for k, v in rows:
        if k not in seen:
            seen.add(k)
            out.append((k, v))
    return out


@settings(max_examples=15, deadline=None)
@given(new=ROWS, existing=ROWS)
def test_upsert_matches_dict_model(spark, new, existing):
    new = _dedup_keys(new)
    existing = _dedup_keys(existing)
    new_df = spark.createDataFrame(new or [(999999, 0)], "k long, v long")
    ex_df = spark.createDataFrame(existing or [(999998, 0)], "k long, v long")
    if not new:
        new_df = new_df.where("k < 0")
    if not existing:
        ex_df = ex_df.where("k < 0")

    model = dict(existing)
    model.update(dict(new))  # row-level: new wins on key collision

    out = upsert_frames(new_df, ex_df, ["k"], sort=False)
    got = {r.k: r.v for r in out.collect()}
    assert got == model


CELL_ROWS = st.lists(
    st.tuples(
        st.integers(0, 12),
        st.one_of(st.none(), st.integers(-100, 100)),
        st.one_of(st.none(), st.integers(-100, 100)),
    ),
    min_size=0,
    max_size=20,
)


@settings(max_examples=15, deadline=None)
@given(new=CELL_ROWS, existing=CELL_ROWS)
def test_cell_level_upsert_matches_combine_first_model(spark, new, existing):
    """Cell-level (combine_first) semantics against a dict model: per
    matched key, a NULL in the new frame falls back to the old value."""
    from df_to_azure_spark.operators.upsert import upsert_frames_cell_level

    new = _dedup_keys([(k, (a, b)) for k, a, b in new])
    existing = _dedup_keys([(k, (a, b)) for k, a, b in existing])
    schema = "k long, a long, b long"
    new_df = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in new] or [(999999, 0, 0)], schema
    )
    ex_df = spark.createDataFrame(
        [(k, a, b) for k, (a, b) in existing] or [(999998, 0, 0)], schema
    )
    if not new:
        new_df = new_df.where("k < 0")
    if not existing:
        ex_df = ex_df.where("k < 0")

    model = dict(existing)
    for k, (a, b) in new:
        if k in model:
            oa, ob = model[k]
            model[k] = (a if a is not None else oa, b if b is not None else ob)
        else:
            model[k] = (a, b)

    out = upsert_frames_cell_level(new_df, ex_df, ["k"])
    got = {r.k: (r.a, r.b) for r in out.collect()}
    assert got == model


COMPOSITE_ROWS = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.integers(0, 5),
        st.one_of(st.none(), st.integers(-100, 100)),
    ),
    min_size=0,
    max_size=20,
)


@settings(max_examples=15, deadline=None)
@given(new=COMPOSITE_ROWS, existing=COMPOSITE_ROWS)
def test_composite_key_upsert_with_null_values(spark, new, existing):
    """Composite keys + NULLs in non-key columns: row-level upsert must
    treat NULL as a value (it replaces), never as a join wildcard."""
    def dedup(rows):
        seen, out = set(), []
        for k1, k2, v in rows:
            if (k1, k2) not in seen:
                seen.add((k1, k2))
                out.append((k1, k2, v))
        return out

    new = dedup(new)
    existing = dedup(existing)
    schema = "k1 long, k2 long, v long"
    new_df = spark.createDataFrame(new or [(99, 99, 0)], schema)
    ex_df = spark.createDataFrame(existing or [(98, 98, 0)], schema)
    if not new:
        new_df = new_df.where("k1 < 0")
    if not existing:
        ex_df = ex_df.where("k1 < 0")

    model = {(k1, k2): v for k1, k2, v in existing}
    model.update({(k1, k2): v for k1, k2, v in new})

    out = upsert_frames(new_df, ex_df, ["k1", "k2"], sort=False)
    got = {(r.k1, r.k2): r.v for r in out.collect()}
    assert got == model


@settings(max_examples=10, deadline=None)
@given(old=ROWS, new=ROWS)
def test_table_diff_recovers_changes(spark, old, new):
    """table_diff against a dict model: added/removed/changed labels must
    match exact set comparison of the two versions."""
    from df_to_azure_spark.operators.upsert import table_diff

    old = _dedup_keys(old)
    new = _dedup_keys(new)
    old_df = spark.createDataFrame(old or [(999999, 0)], "k long, v long")
    new_df = spark.createDataFrame(new or [(999998, 0)], "k long, v long")
    if not old:
        old_df = old_df.where("k < 0")
    if not new:
        new_df = new_df.where("k < 0")

    om, nm = dict(old), dict(new)
    expected = {}
    for k in nm.keys() - om.keys():
        expected[k] = "added"
    for k in om.keys() - nm.keys():
        expected[k] = "removed"
    for k in om.keys() & nm.keys():
        if om[k] != nm[k]:
            expected[k] = "changed"

    got = {r.k: r.change_type for r in table_diff(old_df, new_df, ["k"]).collect()}
    assert got == expected


def test_table_diff_null_keys(spark):
    """NULL keys join null-safely: identical NULL-key rows are no diff,
    and a removed NULL-key row is labeled removed (not 'added')."""
    from df_to_azure_spark.operators.upsert import table_diff

    schema = "k long, v long"
    old = spark.createDataFrame([(None, 1), (1, 10)], schema)
    same = spark.createDataFrame([(None, 1), (1, 10)], schema)
    assert table_diff(old, same, ["k"]).collect() == []

    gone = spark.createDataFrame([(1, 10)], schema)
    got = {(r.k, r.change_type) for r in table_diff(old, gone, ["k"]).collect()}
    assert got == {(None, "removed")}

    changed = spark.createDataFrame([(None, 2), (1, 10)], schema)
    got = {(r.k, r.change_type) for r in table_diff(old, changed, ["k"]).collect()}
    assert got == {(None, "changed")}


@settings(max_examples=15, deadline=None)
@given(new=ROWS, existing=ROWS)
def test_merge_clauses_match_dict_models(spark, new, existing):
    """merge_frames clause algebra vs dict semantics:
    update-only = replace values of existing keys, admit nothing new;
    insert-only = keep existing untouched, append only new keys;
    both = the upsert model."""
    from df_to_azure_spark.operators.upsert import merge_frames

    new = _dedup_keys(new)
    existing = _dedup_keys(existing)
    new_df = spark.createDataFrame(new or [(999999, 0)], "k long, v long")
    ex_df = spark.createDataFrame(existing or [(999998, 0)], "k long, v long")
    if not new:
        new_df = new_df.where("k < 0")
    if not existing:
        ex_df = ex_df.where("k < 0")

    ex_model, new_model = dict(existing), dict(new)
    update_model = {
        k: new_model.get(k, v) for k, v in ex_model.items()
    }
    insert_model = dict(ex_model)
    for k, v in new_model.items():
        insert_model.setdefault(k, v)
    upsert_model = dict(ex_model)
    upsert_model.update(new_model)

    for wm, wnm, model in [
        ("update_all", None, update_model),
        (None, "insert_all", insert_model),
        ("update_all", "insert_all", upsert_model),
        (None, None, ex_model),
    ]:
        out = merge_frames(
            new_df, ex_df, ["k"], when_matched=wm, when_not_matched=wnm,
        )
        got = {r.k: r.v for r in out.collect()}
        assert got == model, (wm, wnm)
