"""J1 — point-in-time (as-of) join: the core temporal operator.

Semantics (SURVEY §2.1, pinned to the reference's contract at
infra/offline_stores/file.py:86-213 and bigquery.py:554-698):

For entity row (k, t) and feature view V with ttl τ:
  1. candidates = rows of V with V.keys = k and event_ts in [t-τ, t]
     (τ absent => unbounded lower).  Both bounds INCLUSIVE.
  2. winner = max event_ts; ties broken by max created_ts when declared;
     residual ties arbitrary (ANY_VALUE, bigquery.py:650).
  3. no candidate => feature columns NULL (left join); every entity row
     appears exactly once with all original columns preserved.

Each spec's plan follows from its inputs:

* A spec whose two sides provably share a bucket id runs
  ``sorted_merge``: ``skew.with_bucket_id`` stamped both frames'
  ``__bucket`` (or ``spec.bucket_col``) over this spec's join keys,
  with the same key types and bucket count (:func:`_bucket_col`).  It
  cogroups on the bucket id + vectorized in-bucket merge_asof (numpy
  searchsorted), one Arrow call per BUCKET.  Its ONLY physical
  requirements are clustering and ASC ordering on the bucket id —
  exactly what a table bucketed and ``sortBy``'d on it with one file
  per bucket provides — so over two co-bucketed sorted tables the
  retrieval runs with ZERO Exchange and ZERO Sort nodes (pay the
  shuffle+sort once at materialization, never per training run;
  pinned by tests/test_skew.py).

* Every other spec rides ``union_window`` (the 100 TB scale path): tag
  and union the entity rows with the (projected) feature rows of
  EVERY view on the same set of entity join keys, hash-partition ONCE
  by those keys, sort within partitions by (ts, side, each view's
  created), and carry each view's latest feature row forward with
  ``last(struct, ignoreNulls)``; each view's ttl bound applies in the
  final projection.  One pass per join-key set, whatever the view
  count: one shuffle of each side, no range-join row explosion on hot
  keys, created_ts dedup folded into the same sort.  This is the
  sort-merge formulation of pandas' merge_asof, distributed.  One
  builder, :func:`_asof_union_window`, makes the plan for every column
  name and type: SQL text with quoted identifiers, key/ts casts
  through ``Column.cast(DataType)``, and typed NULL padding from
  ``unionByName(allowMissingColumns=True)``.

:func:`_asof_range_join`, the classic range join + ROW_NUMBER (the
reference's BigQuery formulation), is no plan ``as_of_join`` picks: it
stays as the independent second formulation the tests check the other
two against.

All three plans take any column name: every reference is quoted
(``sql_ident``), so a dot or backtick in a key or feature name is part
of the name.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feast_spark.functions.text import sql_ident as _q
from feast_spark.operators.skew import BUCKET_ID

_TS = "__asof_ts"
_SIDE = "__asof_side"  # 0 = feature row, 1 = entity row (sorts after at equal ts)
_STRUCT = "__asof_feat"
_CREATED = "__asof_created"
_ROW_ID = "__entity_row_id"


@dataclass
class AsOfJoinSpec:
    """One feature view's contribution to a retrieval (the Spark analog of
    the reference's FeatureViewQueryContext, bigquery.py:344-357)."""

    feature_df: DataFrame
    join_keys: list[str]
    timestamp_col: str
    features: list[str]
    created_col: str | None = None
    ttl: timedelta | None = None
    prefix: str | None = None  # e.g. view name under full_feature_names
    # entity_df column name -> feature_df column name, when they differ
    # (entity selections, bigquery.py:565-568)
    key_mapping: dict[str, str] = field(default_factory=dict)
    # name of the skew.with_bucket_id column to look for on both
    # sides (None: "__bucket"); a match selects the sorted_merge plan,
    # one cogroup per bucket
    bucket_col: str | None = None

    def out_name(self, feature: str) -> str:
        return f"{self.prefix}__{feature}" if self.prefix else feature


def _bucket_col(entity_df: DataFrame, spec: AsOfJoinSpec) -> str | None:
    """The bucket-id column both sides of ``spec`` provably share, if any.

    Both sides' columns must carry the ``with_bucket_id`` record of what
    they hash, and the records must agree with the spec: the entity
    side over the spec's join keys, the feature side over their mapped
    names in the same order, with one bucket count and one type per key
    — and those still the key columns' types now.  Equal join keys then
    hash to equal bucket ids.  Anything else (no record, ids over other
    keys, another n, an INT key against a LONG one) is no shared id."""
    col = spec.bucket_col or "__bucket"
    try:
        ent = entity_df.schema[col].metadata.get(BUCKET_ID)
        feat = spec.feature_df.schema[col].metadata.get(BUCKET_ID)
        if not ent or not feat or sorted(ent["keys"]) != sorted(spec.join_keys):
            return None
        mapped = [spec.key_mapping.get(k, k) for k in ent["keys"]]
        ent_types = [_type(entity_df, k) for k in ent["keys"]]
        feat_types = [_type(spec.feature_df, k) for k in mapped]
    except KeyError:
        return None
    shared = (
        feat["keys"] == mapped
        and ent["n"] == feat["n"]
        and ent["types"] == feat["types"] == ent_types == feat_types
    )
    return col if shared else None


def _type(df: DataFrame, name: str) -> str:
    return df.schema[name].dataType.simpleString()


def as_of_join(
    entity_df: DataFrame,
    entity_ts_col: str,
    specs: list[AsOfJoinSpec],
) -> DataFrame:
    """J2 — compose one or more as-of joins onto entity_df.

    A spec whose sides share a bucket id (:func:`_bucket_col`) runs
    ``sorted_merge``; the rest are grouped by their SET of entity-side
    join keys and each group runs as ONE ``union_window`` pass: one
    union, one partitioning and one window sort for the whole group,
    each view carrying its own ttl bound and ``created`` tie-break in
    that pass.
    A retrieval therefore costs one Exchange plus one Sort per
    distinct join-key set, whatever the view count.

    Output preserves every entity_df column (entity ts column first,
    P5) plus ``spec.out_name(f)`` for each feature, in spec order.
    """
    out = entity_df
    fused: dict[tuple[str, ...], list[AsOfJoinSpec]] = {}
    for spec in specs:
        bucket_col = _bucket_col(entity_df, spec)
        if bucket_col:
            out = _asof_sorted_merge(out, entity_ts_col, spec, bucket_col)
        else:
            fused.setdefault(tuple(sorted(spec.join_keys)), []).append(spec)
    for group in fused.values():
        out = _asof_union_window(out, entity_ts_col, group)
    # P5 — entity timestamp column first; features in spec order
    cols = [entity_ts_col] + [c for c in entity_df.columns if c != entity_ts_col]
    cols += [s.out_name(f) for s in specs for f in s.features]
    return out.selectExpr(*[_q(c) for c in cols])


def _col(name: str):
    """Column reference by exact name: dots and backticks in ``name``
    are part of the name, never struct access or quoting."""
    return F.col(_q(name))


def _projected_feature_df(
    spec: AsOfJoinSpec,
    entity_df: DataFrame,
    entity_ts_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Column-prune the feature side to keys + ts [+ created] + features
    (FO:185, BQ:591-597), rename keys to the entity side's names, and
    cast keys/ts to the entity side's types so union/join line up."""
    fdf = spec.feature_df
    ts_type = entity_df.schema[entity_ts_col].dataType
    sel = []
    for ek in spec.join_keys:
        fk = spec.key_mapping.get(ek, ek)
        sel.append(_col(fk).cast(entity_df.schema[ek].dataType).alias(ek))
    sel.append(_col(spec.timestamp_col).cast(ts_type).alias(_TS))
    if spec.created_col:
        sel.append(_col(spec.created_col).alias(_CREATED))
    sel.extend(_col(f) for f in spec.features)
    sel.extend(_col(c) for c in (extra_cols or []))
    return fdf.select(*sel)


def _lex_nondecreasing(arrs) -> bool:
    """True iff rows are lexicographically nondecreasing over the given
    parallel int64 arrays (primary key first).  O(n) vectorized."""
    import numpy as np

    n = len(arrs[0])
    if n < 2:
        return True
    prev_eq = np.ones(n - 1, dtype=bool)
    for a in arrs:
        if np.any(prev_eq & (a[1:] < a[:-1])):
            return False
        prev_eq &= a[1:] == a[:-1]
    return True


def _asof_union_window(
    entity_df: DataFrame, entity_ts_col: str, specs: list[AsOfJoinSpec]
) -> DataFrame:
    """The ``union_window`` plan for every spec in ``specs`` (all keyed
    by the same set of entity-side join keys, in any order) in ONE
    pass: tag and union the entity rows with each view's rows,
    partition ONCE by the join keys, sort by (ts, side, created...)
    and carry each view's latest feature struct forward with
    ``last(struct, ignoreNulls)``.

    Every projection is ONE ``selectExpr`` of SQL text with each
    identifier backtick-quoted (an unquoted column named like a niladic
    function, ``current_date``, would parse as the function call):
    plan construction is driver wall time under the per-call query
    contract, and each Column-DSL node costs a dozen py4j round trips.

    * View leg ``i``: keys renamed to the entity side's names; keys and
      ts that differ in type from the entity side are cast first with
      ``Column.cast(DataType)``, exact for every type with no DDL text
      (an identity cast is skipped — the optimizer drops it anyway).
      Rows with a NULL event ts are dropped: they match no entity row.
      Each view has its own ``__asof_created{i}`` column, so created
      columns of different types never need a common type, and its
      values travel in one struct ``__asof_feat{i}`` that is non-null
      whenever a feature row exists, so a NULL feature value is
      carried as NULL rather than skipped back to an older value.
    * Entity leg: the ts and side tags.
    * ``unionByName(allowMissingColumns=True)`` pads each leg with
      Spark-typed NULLs for the other legs' columns.

    At equal ts, feature rows (side 0) sort before the entity row, so
    the upper bound is inclusive; among one view's equal (key, ts)
    rows its created ASC puts the max created last (NULL created sorts
    first, so it loses ties; the other views' created columns are NULL
    on those rows and never reorder them).  The window spec is the
    same for every view, so Spark plans one Window node; the final
    projection applies each view's own ttl bound."""
    ent_schema = entity_df.schema
    keys = list(specs[0].join_keys)
    legs = []
    order = [_TS, _SIDE]
    for i, spec in enumerate(specs):
        fdf = spec.feature_df
        f_types = {f.name: f.dataType for f in fdf.schema.fields}
        casts, refs = {}, []
        for col, dtype, tmp in [
            (spec.key_mapping.get(k, k), ent_schema[k].dataType, f"__asof_k{j}")
            for j, k in enumerate(keys)
        ] + [(spec.timestamp_col, ent_schema[entity_ts_col].dataType, _TS)]:
            if f_types.get(col) == dtype:
                refs.append(_q(col))
            else:
                casts[tmp] = _col(col).cast(dtype)
                refs.append(tmp)
        *key_refs, ts_ref = refs
        if casts:
            fdf = fdf.withColumns(casts)
        created = []
        if spec.created_col:
            created = [f"{_q(spec.created_col)} AS {_CREATED}{i}"]
            order.append(f"{_CREATED}{i}")
        values = "".join(f", {_q(f)} AS {_q(f)}" for f in spec.features)
        legs.append(
            fdf.selectExpr(
                *[f"{r} AS {_q(k)}" for r, k in zip(key_refs, keys)],
                f"{ts_ref} AS {_TS}",
                *created,
                f"0 AS {_SIDE}",
                f"struct({ts_ref} AS __ts{values}) AS {_STRUCT}{i}",
            ).filter(f"{_TS} IS NOT NULL")
        )
    unioned = entity_df.selectExpr(
        "*", f"{_q(entity_ts_col)} AS {_TS}", f"1 AS {_SIDE}"
    )
    for leg in legs:
        unioned = leg.unionByName(unioned, allowMissingColumns=True)

    partition = (
        f"PARTITION BY {', '.join(_q(k) for k in keys)} " if keys else ""
    )
    window = (
        f"OVER ({partition}ORDER BY {', '.join(order)} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = unioned.selectExpr(
        "*",
        *[
            f"last({_STRUCT}{i}, true) {window} AS __carried{i}"
            for i in range(len(specs))
        ],
    ).filter(f"{_SIDE} = 1")
    proj = [_q(c) for c in ent_schema.names]
    for i, spec in enumerate(specs):
        valid = f"__carried{i} IS NOT NULL"
        if spec.ttl is not None:
            valid += (
                f" AND __carried{i}.__ts >= {_TS}"
                f" - INTERVAL {spec.ttl.total_seconds()} SECONDS"
            )
        proj += [
            f"CASE WHEN {valid} THEN __carried{i}.{_q(f)} END "
            f"AS {_q(spec.out_name(f))}"
            for f in spec.features
        ]
    return carried.selectExpr(*proj)


def _asof_sorted_merge(
    entity_df: DataFrame,
    entity_ts_col: str,
    spec: AsOfJoinSpec,
    bucket_col: str,
) -> DataFrame:
    """Cogroup both sides on their shared bucket-id column and
    merge-as-of inside each bucket with numpy searchsorted (the
    pandas-merge_asof kernel, vectorized per Arrow group — never
    row-at-a-time).

    ``bucket_col`` names a column on both sides that maps equal join
    keys to equal values (``as_of_join`` passes the one
    :func:`_bucket_col` proves shared).  EVERY key run inside a bucket
    merges in one vectorized kernel call (shared
    code+ts-rank composite, a single searchsorted, no per-key loop):
    O(n_buckets) Arrow calls total.  A cogroup on the join keys would
    pay the ~300 us fixed per-group cost once per distinct key
    (measured ~100x slower than union_window on tiny groups,
    tools/groupsize_bench.py), so no plan groups on the keys.

    Physical contract: FlatMapCoGroupsInPandas requires only
    ClusteredDistribution(grouping) + grouping-ASC ordering on each
    child.  A pair of tables bucketed AND sortBy'd on the bucket
    column (one file per bucket — see ``skew.write_bucketed``)
    satisfies both straight off the scans: no Exchange, no Sort,
    anywhere in the plan.

    Set ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` to
    let the scans report their sortBy order (Spark hides it by default
    because multi-file buckets would break the guarantee; write with
    ``write_bucketed(one_file_per_bucket=True)`` to make it sound) —
    without it the plan stays Exchange-free but inserts a cheap
    grouping-only Sort per side.  The kernel never TRUSTS row order:
    it verifies (key, ts, created) sortedness in O(n) and falls back
    to a vectorized numpy lexsort, so a non-bucketed input is merely
    slower, never wrong."""
    from pyspark.sql import types as T

    keys = list(spec.join_keys)
    feat = _projected_feature_df(
        spec, entity_df, entity_ts_col, extra_cols=[bucket_col]
    )
    has_created = spec.created_col is not None
    features = list(spec.features)
    out_names = [spec.out_name(f) for f in features]
    ttl_us = (
        int(spec.ttl.total_seconds() * 1_000_000) if spec.ttl is not None else None
    )
    entity_cols = list(entity_df.columns)
    out_schema = T.StructType(
        list(entity_df.schema.fields)
        + [
            T.StructField(spec.out_name(f), feat.schema[f].dataType, True)
            for f in features
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    # PySpark's cogroup resolves every input column by its unquoted
    # name, so both sides cross the Arrow boundary under positional
    # names (a dot or backtick would not resolve); the output schema
    # keeps the real ones.
    pos = {c: f"__c{i}" for i, c in enumerate(entity_cols)}
    values = [f"__f{i}" for i in range(len(features))]
    ent = entity_df.toDF(*pos.values())
    feat = feat.toDF(
        *[pos[k] for k in keys], _TS, *([_CREATED] if has_created else []),
        *values, pos[bucket_col],
    )
    keys = [pos[k] for k in keys]
    ent_ts = pos[entity_ts_col]

    def merge(left, right):
        import numpy as np
        import pandas as pd

        if not len(left):
            # object dtype: Arrow casts empty object columns to any
            # target type; empty float64 -> timestamp is unsupported
            return pd.DataFrame(
                {c: pd.Series([], dtype=object) for c in out_cols}
            )
        out = left.copy()
        right = right[right[_TS].notna()] if len(right) else right
        if not len(right):
            for n in out_names:
                out[n] = None
            out.columns = out_cols
            return out
        nl = len(left)
        rts = right[_TS].to_numpy()
        ets = left[ent_ts].to_numpy(dtype=rts.dtype)
        rts_i = rts.astype("int64")
        ets_i = ets.astype("int64")
        # shared key codes, assigned in SORTED key order so a
        # key-sorted scan yields nondecreasing codes (nulls group like
        # groupBy: null == null)
        both = pd.concat([left[keys], right[keys]], ignore_index=True)
        codes = both.groupby(keys, sort=True, dropna=False).ngroup().to_numpy()
        lc, rc = codes[:nl], codes[nl:]
        # created_ts tie-break: NULL created LOSES ties (union_window
        # orders created ASC — Spark sorts nulls first — last wins)
        if has_created:
            cr = right[_CREATED].to_numpy(dtype=rts.dtype)
            cr_i = cr.astype("int64")
            cr_i[np.isnat(cr)] = np.iinfo("int64").min
        else:
            cr_i = None
        # Required right order: (key, ts, created) lexicographic ASC.
        # Verify in O(n) (true for sortBy'd bucketed scans) else one
        # vectorized lexsort — still no JVM Sort node, and stable, so
        # among full ties the later input row wins (ANY_VALUE).
        arrs = [rc, rts_i] + ([cr_i] if cr_i is not None else [])
        if not _lex_nondecreasing(arrs):
            order = np.lexsort(arrs[::-1])
            rc, rts_i = rc[order], rts_i[order]
            rts = rts[order]
        else:
            order = None
        # Rank-compress timestamps so (code, ts) packs into one int64:
        # codes < nl+nr, ranks <= nl+nr  =>  product < (nl+nr)^2,
        # far inside int64 even for multi-GB buckets.
        uts = np.unique(np.concatenate([rts_i, ets_i]))
        m = len(uts) + 1
        comp_r = rc * m + np.searchsorted(uts, rts_i)
        comp_l = lc * m + np.searchsorted(uts, ets_i)
        # last right row with (key, ts) <= (key, entity ts): equal-ts
        # runs end at max created because created sorts ASC
        idx = np.searchsorted(comp_r, comp_l, side="right") - 1
        # NaT sorts as int64 min => rank 0 => idx lands before the
        # key's run or on another key; both are caught below, but mask
        # explicitly: the SQL strategies return NULL features for a
        # NULL entity ts (ts <= NULL is never true)
        valid = (idx >= 0) & ~np.isnat(ets)
        safe = np.clip(idx, 0, None)
        valid &= rc[safe] == lc
        if ttl_us is not None:
            # datetime64 domain (the arrays' native resolution — ns
            # from pandas — so the us ttl converts, not misreads);
            # NaT lower bounds compare False and are already masked
            valid &= rts[safe] >= ets - np.timedelta64(ttl_us, "us")
        take = order[safe] if order is not None else safe
        for v, n in zip(values, out_names):
            vals = right[v].to_numpy()[take]
            if valid.all():
                out[n] = vals
            else:
                col = pd.Series(list(vals), index=out.index, dtype=object)
                col[~np.asarray(valid)] = None
                out[n] = col
        out.columns = out_cols
        return out

    return (
        ent.groupBy(pos[bucket_col])
        .cogroup(feat.groupBy(pos[bucket_col]))
        .applyInPandas(merge, out_schema)
    )


def _asof_range_join(
    entity_df: DataFrame, entity_ts_col: str, spec: AsOfJoinSpec
) -> DataFrame:
    """The reference's BigQuery formulation: left range join on (keys,
    ts window), then ROW_NUMBER per entity row keeps the latest.  No
    input selects it; it is the second formulation tests check
    ``union_window`` and ``sorted_merge`` against."""
    keys = list(spec.join_keys)
    feat = _projected_feature_df(spec, entity_df, entity_ts_col)
    # Rename to avoid collisions with entity columns during the join
    feat = feat.select(
        *[_col(k).alias(f"__fk_{k}") for k in keys],
        F.col(_TS),
        *(
            [F.col(_CREATED)]
            if spec.created_col
            else [F.lit(None).cast("timestamp").alias(_CREATED)]
        ),
        *[_col(f).alias(f"__fv_{f}") for f in spec.features],
    )

    ent = entity_df.withColumn(_ROW_ID, F.monotonically_increasing_id())
    cond = F.lit(True)
    for k in keys:
        cond = cond & (_col(f"__fk_{k}") == _col(k))
    cond = cond & (F.col(_TS) <= _col(entity_ts_col))
    if spec.ttl is not None:
        ttl_secs = spec.ttl.total_seconds()
        cond = cond & (
            F.col(_TS) >= _col(entity_ts_col) - F.expr(f"INTERVAL {ttl_secs} SECONDS")
        )
    joined = ent.join(feat, cond, "left")
    # Dedup window partitioned by (entity keys, row id): row id alone
    # already identifies an entity row, so grouping is identical — but
    # leading with the join keys lets an input that is ALREADY
    # hash-partitioned on them (a bucketed entity table, or the SMJ
    # output of two co-bucketed tables) satisfy the window's required
    # distribution without a new Exchange: HashPartitioning(keys) ⊆
    # ClusteredDistribution(keys, row_id).  This is what makes
    # bucketed PIT retrieval exchange-free end-to-end
    # (tests/test_skew.py::test_bucketed_pit_retrieval_zero_exchange).
    w = Window.partitionBy(*map(_col, keys), _ROW_ID).orderBy(
        F.col(_TS).desc_nulls_last(), F.col(_CREATED).desc_nulls_last()
    )
    ranked = joined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    proj = [_col(c) for c in entity_df.columns]
    proj += [_col(f"__fv_{f}").alias(spec.out_name(f)) for f in spec.features]
    return ranked.select(*proj)
