"""SCD2 snapshot maintenance — the reference's hardest semantics.

Reference (SURVEY.md §2.J J1): dbt snapshots with ``strategy='timestamp'``,
``unique_key``, ``updated_at``, ``invalidate_hard_deletes=True``
(``firmographics_dbt/snapshots/company_location_snapshot.sql:4-11``,
``fortune_metrics_snapshot.sql:4-11``). Public dbt semantics:

- first run: every source row becomes an open version
  (``valid_from = updated_at``, ``valid_to = NULL``, ``scd_id =
  md5(key || '|' || updated_at)``).
- later runs, per key: source ``updated_at`` newer than the open row's ->
  close the open row (``valid_to := new updated_at``) and insert the new
  version; key missing from source -> close the open row at the run
  timestamp (hard-delete invalidation); unchanged -> untouched. Closed
  history rows are immutable.

Spark-first design: there is no single Spark primitive for this, so it is a
composition — split snapshot into (closed, open), full-outer join *open ×
source on the key only* (one shuffle on the key; closed history is not
shuffled at all), derive the row action, emit closed' ∪ updated-open ∪
inserts. At 100 TB the open set is bounded by live-key cardinality (≪
history), and with Delta/Iceberg the same logic becomes a MERGE; the plain
function stays storage-agnostic and the materializer does an atomic rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.functions.keys import surrogate_key

#: SCD2 metadata columns, named after their public dbt counterparts so the
#: star models read identically (reference README.md:418-422).
SCD_ID = "dbt_scd_id"
UPDATED_AT = "dbt_updated_at"
VALID_FROM = "dbt_valid_from"
VALID_TO = "dbt_valid_to"
META_COLS = (SCD_ID, UPDATED_AT, VALID_FROM, VALID_TO)


def _open_versions(
    rows: DataFrame, cols: list[str], key: str, ts: Column, ts_type
) -> DataFrame:
    """``cols`` of every row as an open version opened at ``ts``."""
    return rows.select(
        *cols,
        surrogate_key([F.col(key), ts]).alias(SCD_ID),
        ts.alias(UPDATED_AT),
        ts.alias(VALID_FROM),
        F.lit(None).cast(ts_type).alias(VALID_TO),
    )


def _fold(
    snapshot: DataFrame | None,
    source: DataFrame,
    key: str,
    ts: Column,
    ts_type,
    changed: Column,
    gone_ts: Column,
    invalidate_hard_deletes: bool,
) -> DataFrame:
    """One snapshot run of either strategy. ``ts`` (over ``source``) opens
    new versions and closes changed ones; ``changed`` tells a changed key
    from an unchanged one, over the open row's columns and the source's
    ``__src_ts``/``__src_row``; ``gone_ts`` closes a key missing from
    ``source``."""
    if snapshot is None:
        return _open_versions(source, ["*"], key, ts, ts_type)

    data_cols = [c for c in snapshot.columns if c not in META_COLS]
    closed = snapshot.filter(F.col(VALID_TO).isNotNull())
    open_rows = snapshot.filter(F.col(VALID_TO).isNull())

    src = source.select(
        F.col(key).alias("__src_key"),
        ts.alias("__src_ts"),
        F.struct(*source.columns).alias("__src_row"),
    )
    joined = open_rows.join(src, open_rows[key] == src["__src_key"], "full_outer")

    is_new_key = open_rows[key].isNull()  # in source only -> brand-new key
    is_gone = F.col("__src_key").isNull()  # in snapshot only -> hard delete
    is_changed = (~is_new_key) & (~is_gone) & changed

    # Surviving open rows: unchanged keys keep their open version, changed
    # keys get it closed at the new version's timestamp, vanished keys at
    # gone_ts.
    kept_open = joined.filter(~is_new_key).select(
        *[open_rows[c] for c in data_cols],
        open_rows[SCD_ID],
        open_rows[UPDATED_AT],
        open_rows[VALID_FROM],
        F.when(is_changed, F.col("__src_ts"))
        .when(is_gone & F.lit(invalidate_hard_deletes), gone_ts)
        .otherwise(open_rows[VALID_TO])
        .alias(VALID_TO),
    )
    # New versions: brand-new keys + new versions of changed keys.
    inserts = _open_versions(
        joined.filter(is_new_key | is_changed).select("__src_row.*", "__src_ts"),
        data_cols, key, F.col("__src_ts"), ts_type,
    )
    return closed.select(*data_cols, *META_COLS).unionByName(kept_open).unionByName(inserts)


def scd2_apply(
    snapshot: DataFrame | None,
    source: DataFrame,
    key: str,
    updated_at: str,
    invalidate_hard_deletes: bool = True,
) -> DataFrame:
    """One snapshot run (``strategy='timestamp'``): fold ``source`` into
    ``snapshot``, returning the new full snapshot table (closed history ∪
    surviving/updated open rows ∪ new versions). ``snapshot is None`` means
    first run. A key changes when its source ``updated_at`` is newer than the
    open row's; vanished keys close at the new batch's max timestamp (dbt
    uses the run's transaction time; the engine uses the batch high-watermark
    so reruns stay deterministic)."""
    batch_hwm = None if snapshot is None else source.agg(F.max(updated_at)).first()[0]
    return _fold(
        snapshot, source, key,
        ts=F.col(updated_at),
        ts_type=source.schema[updated_at].dataType,
        changed=F.col("__src_ts") > F.col(UPDATED_AT),
        gone_ts=F.lit(batch_hwm),
        invalidate_hard_deletes=invalidate_hard_deletes,
    )


def scd2_apply_check(
    snapshot: DataFrame | None,
    source: DataFrame,
    key: str,
    check_cols: list[str],
    run_ts,
    invalidate_hard_deletes: bool = True,
) -> DataFrame:
    """dbt's OTHER snapshot mode, ``strategy='check'``: a new version opens
    when any of ``check_cols`` differs (null-safe) from the open version —
    for sources without a reliable ``updated_at``. Public dbt semantics use
    the snapshot transaction time for ``dbt_updated_at``/``valid_from``;
    here the caller passes ``run_ts`` explicitly so reruns are
    deterministic (same design as the batch high-watermark in
    ``scd2_apply``); it also closes changed and vanished keys."""
    ts_lit = F.lit(run_ts).cast("timestamp")
    changed = F.lit(False)
    for c in check_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__src_row.{c}"))
    return _fold(
        snapshot, source, key,
        ts=ts_lit,
        ts_type="timestamp",
        changed=changed,
        gone_ts=ts_lit,
        invalidate_hard_deletes=invalidate_hard_deletes,
    )


def scd2_current(snapshot: DataFrame) -> DataFrame:
    """Current-state projection (J2): open rows only
    (``WHERE dbt_valid_to IS NULL`` — ``dim_location.sql:7``,
    ``dim_fortune_metrics.sql:22``)."""
    return snapshot.filter(F.col(VALID_TO).isNull())
