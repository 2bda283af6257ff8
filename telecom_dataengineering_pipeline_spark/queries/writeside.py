"""Write-side semantics as checkable transformations (SURVEY.md §2.10).

M1 MERGE and M3 SCD are write-path operators; here their *semantics* are
expressed as pure queries (target/source derived deterministically from the
test tables) so the DuckDB oracle can verify them. The actual write path —
partitioned parquet, compaction, overwrite — lives in
``telecom_dataengineering_pipeline_spark/sources/writers.py`` and is exercised by tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compat import split_part
from ..functions.keys import record_hash, surrogate_key
from ..functions.masking import mask_name
from ..operators.merge import merge_upsert
from ..sources.catalog import load_table
from .scratch import scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# M1: incremental MERGE on unique_key (dbt incremental_strategy merge,
# dbt_project.yml:29-32). Target = odd-ish snapshot v1; source = even-key
# updates v2 with a price adjustment; merged = source wins per orderkey.
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH target AS (
  SELECT o_orderkey, 1 AS version,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price, o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 != 0
), source AS (
  SELECT o_orderkey, 2 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(14,4)) AS price,
         'U' AS status
  FROM orders WHERE o_orderkey % 2 = 0
), unioned AS (
  SELECT o_orderkey, version, CAST(price AS DECIMAL(14,4)) AS price, status FROM target
  UNION ALL
  SELECT o_orderkey, version, price, status FROM source
)
SELECT o_orderkey AS orderkey, version, CAST(price AS DOUBLE) AS totalprice, status
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS _rn
  FROM unioned
) WHERE _rn = 1
"""


@register("merge_upsert_orders", oracle=_MERGE_ORACLE, tags=("M1", "W1"))
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.lit(1).alias("version"),
        price.cast("decimal(14,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit(2).alias("version"),
        (price * F.lit(1.1).cast("decimal(3,2)")).cast("decimal(14,4)").alias("price"),
        F.lit("U").alias("status"),
    )
    merged = merge_upsert(
        target, source, keys=["o_orderkey"], order_by=[F.col("version").desc()]
    )
    return merged.select(
        F.col("o_orderkey").alias("orderkey"),
        "version",
        F.col("price").cast("double").alias("totalprice"),
        "status",
    )


# ---------------------------------------------------------------------------
# M3: SCD2-shaped dimension build (dim_customers.sql:18-95): surrogate key,
# PII mask, plan parsing via SPLIT_PART, segment CASE, SCD2 columns with the
# reference's snapshot behavior (effective_end NULL, is_current TRUE).
# ---------------------------------------------------------------------------

_SCD_ORACLE = """
SELECT
  md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), 'UNKNOWN'))) AS customer_key,
  c_custkey AS customer_id,
  concat(substring(c_name, 1, 1), '***') AS masked_name,
  concat(c_mktsegment, '_', CAST((c_custkey % 5 + 1) * 30 AS VARCHAR)) AS plan_code,
  str_split(concat(c_mktsegment, '_', CAST((c_custkey % 5 + 1) * 30 AS VARCHAR)), '_')[1] AS plan_tier,
  CAST(str_split(concat(c_mktsegment, '_', CAST((c_custkey % 5 + 1) * 30 AS VARCHAR)), '_')[2] AS INTEGER) AS plan_monthly_fee,
  CASE
    WHEN c_acctbal >= 5000 THEN 'PREMIUM'
    WHEN c_acctbal >= 1000 THEN 'STANDARD'
    WHEN c_acctbal >= 0   THEN 'BASIC'
    ELSE 'DELINQUENT'
  END AS balance_segment,
  md5(concat_ws('||', coalesce(c_name, 'UNKNOWN'), coalesce(c_mktsegment, 'UNKNOWN'),
                      coalesce(CAST(c_acctbal AS VARCHAR), 'UNKNOWN'))) AS _record_hash,
  '2024-01-01' AS effective_start_date,
  CAST(NULL AS VARCHAR) AS effective_end_date,
  TRUE AS is_current
FROM customer
"""


@register("scd2_customer_dim", oracle=_SCD_ORACLE, tags=("M3", "F2", "F7", "F8"))
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    plan_code = F.concat(
        F.col("c_mktsegment"), F.lit("_"), ((F.col("c_custkey") % 5 + 1) * 30).cast("string")
    )
    bal = F.col("c_acctbal")
    return c.select(
        surrogate_key("c_custkey").alias("customer_key"),
        F.col("c_custkey").alias("customer_id"),
        mask_name("c_name").alias("masked_name"),
        plan_code.alias("plan_code"),
        split_part(plan_code, "_", 1).alias("plan_tier"),
        split_part(plan_code, "_", 2).cast("int").alias("plan_monthly_fee"),
        F.when(bal >= 5000, "PREMIUM")
        .when(bal >= 1000, "STANDARD")
        .when(bal >= 0, "BASIC")
        .otherwise("DELINQUENT")
        .alias("balance_segment"),
        record_hash("c_name", "c_mktsegment", "c_acctbal").alias("_record_hash"),
        F.lit("2024-01-01").alias("effective_start_date"),
        F.lit(None).cast("string").alias("effective_end_date"),
        F.lit(True).alias("is_current"),
    )


@register("merge_upsert_orders_txnlog", oracle=_MERGE_ORACLE, tags=("M1", "S7"), bench=True)
def merge_upsert_orders_txnlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 MERGE executed THROUGH the transaction-log table format
    (sources/txnlog.py — the S7 implementation): the target snapshot is
    committed as version 0, the source MERGEs as a file-granular
    copy-on-write commit, and the result is read back from the resulting
    log snapshot. Same oracle as ``merge_upsert_orders`` — the storage
    format must not change MERGE semantics."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.lit(1).alias("version"),
        price.cast("decimal(14,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit(2).alias("version"),
        (price * F.lit(1.1).cast("decimal(3,2)")).cast("decimal(14,4)").alias("price"),
        F.lit("U").alias("status"),
    )
    path = scratch_dir("txnlog_merge", sf_dir)
    t = TxnLogTable(path, stat_cols=("o_orderkey",))
    t.create_or_replace(target)
    t.merge_keep_latest(
        spark, source, keys=["o_orderkey"], order_by=[F.col("version").desc()]
    )
    return t.read(spark).select(
        F.col("o_orderkey").alias("orderkey"),
        "version",
        F.col("price").cast("double").alias("totalprice"),
        "status",
    )


# ---------------------------------------------------------------------------
# Change data feed over the transaction log (Delta CDF semantics, derived):
# the row-level diff between two committed versions. The feed is
# file-layout-INDEPENDENT — COW carry-overs cancel in the multiset diff —
# so a pure-SQL oracle over the base table is exact: deletes = old images
# of keys hit by the merge, inserts = every source row.
# ---------------------------------------------------------------------------

_CDF_ORACLE = """
WITH target AS (
  SELECT o_orderkey, 1 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 != 0
), source AS (
  SELECT o_orderkey, 2 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(14,4)) AS price,
         'U' AS status
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT t.o_orderkey AS orderkey, t.version, CAST(t.price AS DOUBLE) AS totalprice,
       t.status, 'delete' AS change_type
FROM target t SEMI JOIN source s ON t.o_orderkey = s.o_orderkey
UNION ALL
SELECT o_orderkey AS orderkey, version, CAST(price AS DOUBLE) AS totalprice,
       status, 'insert' AS change_type
FROM source
"""


@register("txnlog_table_changes", oracle=_CDF_ORACLE, tags=("M1", "S7", "T7"))
def txnlog_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between txnlog versions (sources/txnlog.py
    ``table_changes``): version 0 commits the target snapshot, version 1
    MERGEs the source; the feed reads ONLY the files the merge touched and
    emits delete+insert pairs for updated keys, inserts for new keys, and
    nothing for rows merely carried over. The reference gets this from
    Iceberg's changelog; here it is derived from the commit log's file
    deltas."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.lit(1).alias("version"),
        price.cast("decimal(14,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lit(2).alias("version"),
        (price * F.lit(1.1).cast("decimal(3,2)")).cast("decimal(14,4)").alias("price"),
        F.lit("U").alias("status"),
    )
    path = scratch_dir("txnlog_cdf", sf_dir)
    t = TxnLogTable(path, stat_cols=("o_orderkey",))
    t.create_or_replace(target)
    t.merge_keep_latest(
        spark, source, keys=["o_orderkey"], order_by=[F.col("version").desc()]
    )
    return t.table_changes(spark, 0, 1).select(
        F.col("o_orderkey").alias("orderkey"),
        "version",
        F.col("price").cast("double").alias("totalprice"),
        "status",
        F.col("_change_type").alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (operators/matview.py): the
# rollup is NEVER fully recomputed after init — every base commit's change
# feed folds into it additively. The oracle aggregates the equivalent final
# base state directly, so the value-match proves incremental ≡ recompute.
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority AS prio,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders
)
SELECT prio,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total_price
FROM base GROUP BY prio
"""


@register("incremental_matview_sales", oracle=_IVM_ORACLE, tags=("M1", "S7", "A4"))
def incremental_matview_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup maintained from change feeds across three base commits:
    v0 initial load (full refresh — the only full aggregate ever run),
    v1 append of the remaining orders, v2 MERGE repricing every 7th order
    (+100). Each refresh folds ``table_changes`` of exactly one commit into
    the view: deltas aggregate at feed size, only affected groups are
    fetched (broadcast semi-join), and the COW merge rewrites only view
    files holding them. Final contents must equal a from-scratch aggregate
    of the final base state — which is what the oracle computes."""
    import os

    from ..operators.matview import IncrementalRollup
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    rows = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.lit(1).alias("version"),
        price.alias("price"),
    )
    initial = rows.filter(F.col("o_orderkey") % 3 != 0)
    appended = rows.filter(F.col("o_orderkey") % 3 == 0)
    repriced = rows.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "prio",
        F.lit(2).alias("version"),
        (F.col("price") + F.lit(100)).cast("decimal(12,2)").alias("price"),
    )

    root = scratch_dir("txnlog_ivm", sf_dir)
    base = TxnLogTable(os.path.join(root, "base"), stat_cols=("o_orderkey",))
    base.create_or_replace(initial)  # v0
    base.append(appended)  # v1
    base.merge_keep_latest(  # v2
        spark, repriced, keys=["o_orderkey"], order_by=[F.col("version").desc()]
    )

    view = IncrementalRollup(
        TxnLogTable(os.path.join(root, "view"), stat_cols=("prio",)),
        group_cols=["prio"],
        sum_cols=["price"],
    )
    view.full_refresh(base.read(spark, version=0), refresh_v=0)
    view.apply_changes(spark, base.table_changes(spark, 0, 1), refresh_v=1)
    view.apply_changes(spark, base.table_changes(spark, 1, 2), refresh_v=2)
    return view.read(spark).select(
        "prio",
        F.col("n_rows").alias("n_orders"),
        F.col("sum_price").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# DELETE WHERE through the transaction log (file-granular COW, stats-pruned
# candidates) — completes the DML triad next to MERGE and the change feed.
# ---------------------------------------------------------------------------

_DELETE_ORACLE = """
SELECT o_orderkey AS orderkey,
       o_orderstatus AS status,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
FROM orders
WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 5000)
"""


@register("delete_where_orders_txnlog", oracle=_DELETE_ORACLE, tags=("M1", "S7"))
def delete_where_orders_txnlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-shaped DELETE: commit the snapshot, delete a key range through
    the log (only files whose stats admit a match are rewritten), read the
    result back from the new version. Must equal filtering the source."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    target = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    path = scratch_dir("txnlog_del", sf_dir)
    t = TxnLogTable(path, stat_cols=("o_orderkey",))
    t.create_or_replace(target)
    t.delete_where(spark, [("o_orderkey", ">=", 1000), ("o_orderkey", "<", 5000)])
    return t.read(spark).select(
        F.col("o_orderkey").alias("orderkey"),
        "status",
        F.col("price").cast("double").alias("totalprice"),
    )


# ---------------------------------------------------------------------------
# Content-level snapshot diff (operators/diff.py): the table-compare tool
# for states with no shared commit log (migration source vs target,
# backfill vs production). Derives added/removed/changed per key from two
# deterministic orders snapshots.
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 3 != 0
), new AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CASE WHEN o_orderkey % 7 = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2))
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
  FROM orders WHERE o_orderkey % 5 != 0
)
SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.status IS DISTINCT FROM n.status OR o.price IS DISTINCT FROM n.price THEN 'changed'
       END AS change_type
FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.status IS DISTINCT FROM n.status OR o.price IS DISTINCT FROM n.price THEN 'changed'
       END IS NOT NULL
"""


@register("orders_snapshot_diff", oracle=_SNAPDIFF_ORACLE, tags=("U2", "M1"))
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_orderstatus").alias("status"), price.alias("price")
    )
    new = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.when(F.col("o_orderkey") % 7 == 0, (price + 100).cast("decimal(12,2)"))
        .otherwise(price)
        .alias("price"),
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


# ---------------------------------------------------------------------------
# Atomic region restatement (replace_where — Delta's replaceWhere): one
# commit deletes a partition's rows and inserts their recomputation, the
# idempotent-backfill primitive.
# ---------------------------------------------------------------------------

_REPLACE_ORACLE = """
SELECT o_orderkey AS orderkey,
       o_orderpriority AS priority,
       CAST(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(14,4))
                 ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) END AS DOUBLE) AS totalprice
FROM orders
"""


@register("backfill_replace_where_txnlog", oracle=_REPLACE_ORACLE, tags=("M1", "S7"))
def backfill_replace_where_txnlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit the orders snapshot, then restate the 1-URGENT partition in
    ONE replace_where commit (recomputed at +10%); the read-back must equal
    applying the restatement to the source. Stats-pruned: only files that
    could hold 1-URGENT rows are rewritten."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    rows = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        price.cast("decimal(14,4)").alias("price"),
    )
    path = scratch_dir("txnlog_rw", sf_dir)
    t = TxnLogTable(path, stat_cols=("priority",))
    t.create_or_replace(rows, cluster_by=("priority",))
    restated = rows.filter(F.col("priority") == "1-URGENT").select(
        "o_orderkey",
        "priority",
        (F.col("price").cast("decimal(12,2)") * F.lit(1.1).cast("decimal(3,2)"))
        .cast("decimal(14,4)")
        .alias("price"),
    )
    t.replace_where(spark, [("priority", "=", "1-URGENT")], restated)
    return t.read(spark).select(
        F.col("o_orderkey").alias("orderkey"),
        "priority",
        F.col("price").cast("double").alias("totalprice"),
    )


# ---------------------------------------------------------------------------
# Shallow-clone divergence through the driver gate (sources/txnlog.py
# ``clone_shallow``): value-checks BOTH sides of the isolation contract —
# the COW merge into the clone (keep-latest semantics, files referenced
# from the source root) and the append to the source after cloning (the
# clone must not see it).
# ---------------------------------------------------------------------------

_CLONE_ORACLE = """
WITH target AS (
  SELECT o_orderkey, 1 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 != 0
), extra AS (
  SELECT o_orderkey, 1 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS price,
         'A' AS status
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey, 2 AS version,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(14,4)) AS price,
         'U' AS status
  FROM orders WHERE o_orderkey % 2 = 0
), source_final AS (
  SELECT * FROM target UNION ALL SELECT * FROM extra
), clone_final AS (
  SELECT t.* FROM target t ANTI JOIN upd u ON t.o_orderkey = u.o_orderkey
  UNION ALL SELECT * FROM upd
)
SELECT 'source' AS table_role, o_orderkey AS orderkey, version,
       CAST(price AS DOUBLE) AS totalprice, status
FROM source_final
UNION ALL
SELECT 'clone' AS table_role, o_orderkey AS orderkey, version,
       CAST(price AS DOUBLE) AS totalprice, status
FROM clone_final
"""


@register("txnlog_clone_divergence", oracle=_CLONE_ORACLE, tags=("M1", "S7"))
def txnlog_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create a txnlog table, SHALLOW CLONE it, MERGE updates into the
    clone (COW against source-rooted files), append new keys to the SOURCE
    — then read both tables. The clone shows merged state without the
    source's post-clone append; the source shows the append without the
    clone's merge. One result set, role-tagged, fully value-checked."""
    import os

    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")

    def shaped(pred, version, status_col, price_mult=None):
        p = price
        if price_mult is not None:
            p = (price * F.lit(price_mult).cast("decimal(3,2)"))
        return o.filter(pred).select(
            "o_orderkey",
            F.lit(version).alias("version"),
            p.cast("decimal(14,4)").alias("price"),
            status_col.alias("status"),
        )

    target = shaped(F.col("o_orderkey") % 3 != 0, 1, F.col("o_orderstatus"))
    extra = shaped(F.col("o_orderkey") % 3 == 0, 1, F.lit("A"))
    upd = shaped(F.col("o_orderkey") % 2 == 0, 2, F.lit("U"), price_mult=1.1)

    root = scratch_dir("txnlog_clone", sf_dir)
    src = TxnLogTable(os.path.join(root, "src"), stat_cols=("o_orderkey",))
    src.create_or_replace(target)
    clone = src.clone_shallow(os.path.join(root, "dst"))
    clone.merge_keep_latest(
        spark, upd, keys=["o_orderkey"], order_by=[F.col("version").desc()]
    )
    src.append(extra)

    def tagged(t: TxnLogTable, role: str) -> DataFrame:
        return t.read(spark).select(
            F.lit(role).alias("table_role"),
            F.col("o_orderkey").alias("orderkey"),
            "version",
            F.col("price").cast("double").alias("totalprice"),
            "status",
        )

    return tagged(src, "source").unionByName(tagged(clone, "clone"))


# ---------------------------------------------------------------------------
# CDC replica through the change-feed consumer (streaming/cdf_consume.py):
# a source txnlog table takes a create → MOR-merge → MOR-delete → append
# DML sequence; a ChangeFeedCursor drains the feed batch-by-batch (one
# poll per committed version) into a replica table via source-wins merge +
# ONE distributed merge-delete per batch. The replica's final rows must
# equal the source's final state — which IS plain SQL over orders.
# ---------------------------------------------------------------------------

_CDC_REPLICA_ORACLE = """
WITH base AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 3 = 0
), upd AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.05 AS DECIMAL(3,2)) AS DECIMAL(14,4)) AS price,
         'U' AS status
  FROM orders WHERE o_orderkey % 6 = 0
), merged AS (
  SELECT b.orderkey,
         coalesce(u.price, b.price) AS price,
         coalesce(u.status, b.status) AS status
  FROM base b LEFT JOIN upd u ON u.orderkey = b.orderkey
), appended AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(14,4)) AS price,
         'N' AS status
  FROM orders WHERE o_orderkey % 3 = 1
)
SELECT orderkey, CAST(price AS DOUBLE) AS price, status FROM merged WHERE status <> 'F'
UNION ALL
SELECT orderkey, CAST(price AS DOUBLE) AS price, status FROM appended
"""


@register("cdf_replica_apply", oracle=_CDC_REPLICA_ORACLE, tags=("T6", "T7", "S7", "M1"))
def cdf_replica_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized CDC replica: the reference ships table changes to
    downstream incrementals via Iceberg changelog + dbt incremental
    models; here the poll/ack cursor applies row-level images under batch
    txn ids (exactly-once), with deletes applied as one distributed
    merge-delete commit per batch — keys never touch the driver."""
    import os

    from ..sources.txnlog import TxnLogTable
    from ..streaming.cdf_consume import ChangeFeedCursor

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        price.cast("decimal(14,4)").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = o.filter(F.col("o_orderkey") % 6 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        (price * F.lit(1.05).cast("decimal(3,2)")).cast("decimal(14,4)").alias("price"),
        F.lit("U").alias("status"),
    )
    extra = o.filter(F.col("o_orderkey") % 3 == 1).select(
        F.col("o_orderkey").alias("orderkey"),
        price.cast("decimal(14,4)").alias("price"),
        F.lit("N").alias("status"),
    )
    root = scratch_dir("cdf_replica", sf_dir)
    src = TxnLogTable(os.path.join(root, "src"), stat_cols=("orderkey",))
    sink = TxnLogTable(os.path.join(root, "sink"), stat_cols=("orderkey",))
    src.create_or_replace(base)
    cur = ChangeFeedCursor(src, os.path.join(root, "cursor.json"), start_version=-1)
    # Drain after EVERY source commit: each poll is one version, so the
    # replica applies four distinct batches (bootstrap, update images as
    # delete+insert pairs, pure deletes, blind inserts) — the cross-batch
    # source-wins precedence and per-batch delete commits all exercised.
    cur.apply_to(spark, sink, keys=("orderkey",))
    src.merge_keep_latest_mor(
        spark, upd, keys=("orderkey",), order_by=[F.col("status").desc()]
    )  # 'U' sorts above every base status (F/O/P): the update image wins
    cur.apply_to(spark, sink, keys=("orderkey",))
    src.delete_where_mor(spark, [("status", "=", "F")])
    cur.apply_to(spark, sink, keys=("orderkey",))
    src.append(extra)
    cur.apply_to(spark, sink, keys=("orderkey",))
    return sink.read(spark).select(
        "orderkey", F.col("price").cast("double").alias("price"), "status"
    )


# ---------------------------------------------------------------------------
# Generated columns through the value gate (sources/txnlog.py
# ``set_generated_column``): the month key is declared GENERATED ALWAYS AS
# and the second slice appends WITHOUT it — the engine computes it, and
# the oracle recomputes it in SQL over both slices.
# ---------------------------------------------------------------------------

_GENCOL_ORACLE = """
WITH both_slices AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
         strftime(o_orderdate, '%Y-%m-%d') AS odate
  FROM orders WHERE o_orderkey % 4 IN (0, 1)
)
SELECT orderkey, price, odate, substr(odate, 1, 7) AS o_month
FROM both_slices
"""


@register("txnlog_generated_columns", oracle=_GENCOL_ORACLE, tags=("S7", "M4"))
def txnlog_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writers stop carrying derived partition keys: the table computes
    them (Delta GENERATED ALWAYS AS). Slice 1 creates the table with the
    column present (validated); slice 2 appends without it (computed)."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    base_cols = [
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
    ]
    slice1 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        *base_cols, F.expr("substr(date_format(o_orderdate, 'yyyy-MM-dd'), 1, 7)").alias("o_month")
    )
    slice2 = o.filter(F.col("o_orderkey") % 4 == 1).select(*base_cols)  # no o_month
    path = scratch_dir("txnlog_gencol", sf_dir)
    t = TxnLogTable(path, stat_cols=("orderkey",))
    t.create_or_replace(slice1)
    t.set_generated_column(spark, "o_month", "substr(odate, 1, 7)")
    t.append(slice2)
    return t.read(spark)


# ---------------------------------------------------------------------------
# Clustering-spec evolution through the value gate: generation 1 written
# unclustered, the spec evolves (one metadata commit, zero rewrites),
# generation 2 clusters by status — and a predicate read over the MIXED
# layout returns exactly the plain-SQL answer.
# ---------------------------------------------------------------------------

_CLUSTER_EVOLVE_ORACLE = """
SELECT o_orderkey AS orderkey, o_orderstatus AS status,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 4 IN (2, 3) AND o_orderstatus = 'F'
"""


@register("txnlog_partition_evolution", oracle=_CLUSTER_EVOLVE_ORACLE, tags=("S7", "O3", "O4"))
def txnlog_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition-spec evolution re-derived: pruning is stats-based,
    never path-based, so old-layout and new-layout files coexist and a
    predicate read stays exact across generations (the test suite pins the
    file-count pruning; this query pins the values)."""
    from ..sources.txnlog import TxnLogTable

    o = load_table(spark, sf_dir, "orders")
    cols = [
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price"),
    ]
    gen1 = o.filter(F.col("o_orderkey") % 4 == 2).select(*cols)
    gen2 = o.filter(F.col("o_orderkey") % 4 == 3).select(*cols)
    path = scratch_dir("txnlog_cluster", sf_dir)
    t = TxnLogTable(path, stat_cols=("orderkey", "status"))
    t.create_or_replace(gen1)
    t.set_clustering(["status"])  # evolution: metadata-only
    t.append(gen2)  # new generation clusters by status
    return t.read(spark, where=[("status", "=", "F")])


# ---------------------------------------------------------------------------
# Cursor-driven incremental materialized view (operators/matview.py
# ``catch_up_cursor``): same additive rollup as incremental_matview_sales,
# but resume state flows through the shared ChangeFeedCursor — and the
# final view must still equal the plain-SQL aggregate of the base's end
# state.
# ---------------------------------------------------------------------------

_MV_CURSOR_ORACLE = """
WITH base AS (
  SELECT o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2))
  FROM orders WHERE o_orderkey % 4 = 1
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
FROM base GROUP BY 1
"""


@register("matview_cursor_refresh", oracle=_MV_CURSOR_ORACLE, tags=("T7", "M1", "S7"))
def matview_cursor_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.matview import IncrementalRollup
    from ..sources.txnlog import TxnLogTable
    from ..streaming.cdf_consume import ChangeFeedCursor

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    b1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        price.alias("price"),
    )
    b2 = o.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        (price * 2).cast("decimal(12,2)").alias("price"),
    )
    root = scratch_dir("mv_cursor", sf_dir)
    base = TxnLogTable(os.path.join(root, "base"), stat_cols=("orderkey",))
    rollup = IncrementalRollup(
        TxnLogTable(os.path.join(root, "view"), stat_cols=("status",)),
        group_cols=["status"],
        sum_cols=["price"],
    )
    cur = ChangeFeedCursor(base, os.path.join(root, "cursor.json"), start_version=-1)
    base.create_or_replace(b1)
    rollup.catch_up_cursor(cur, spark)
    base.append(b2)
    rollup.catch_up_cursor(cur, spark)
    return rollup.read(spark).select(
        "status",
        "n_rows",
        F.col("sum_price").cast("double").alias("sum_price"),
    )
