"""IdSetLexicon as a distributed query.

Parity target: id_set_lexicon.h:33-147 / id_set_lexicon.cc:57-77
(AddInternal) plus the SequenceLexicon id assignment it delegates to
(sequence_lexicon.h: ids are assigned 0,1,2,... in FIRST-SEEN insertion
order).  The reference maps every set of non-negative int32 "label ids"
to one int32 "set id":

* empty set            -> kEmptySetId == INT32_MIN,
* singleton {v} (after sort + dedup — a multi-element input that
  collapses to one value IS a singleton)
                       -> the element v itself (ids >= 0 are reserved
                          for singletons, id_set_lexicon.h:140),
* anything else        -> ~k where k is the SequenceLexicon id of the
  canonical (sorted, deduped) sequence — i.e. -k-1, so multi-element
  set ids are the negative integers -1, -2, ... in first-seen order.

The one sequential ingredient is SequenceLexicon's "first-seen
insertion order".  Processing rows in ascending ``row_id`` order
through Add() assigns id k to the k-th DISTINCT canonical multi-set by
first occurrence — so k is a pure function of the data: the number of
distinct multi-sets whose first-referencing row precedes this set's
first-referencing row.  That count is a rank over the (small,
deduplicated) distinct-set table, which this operator computes with a
two-level distributed prefix sum (BENCH.md §3: a global ORDER BY window
is a one-partition scale cliff): distinct sets bucket by ``first_ref
div RANK_BUCKET_W`` — an ORDERED RANGE partition of the row-id axis, so
bucket-major order IS global first_ref order — each bucket ranks
locally in parallel, and the tiny per-bucket totals become broadcast
offsets.

Scale shape: one hash agg over the multi-set rows (groupBy canonical
key), windows only over the deduplicated distinct-set table, one
equi-join back to the row stream (shuffle on a md5-uniform string key).
No Python anywhere — the whole operator is Catalyst codegen, and the
DuckDB oracle replays the identical arithmetic bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: id of the empty set (id_set_lexicon.h:141 — INT32_MIN, "the last id
#: that will ever be generated").
EMPTY_SET_ID = -(2**31)

#: width of one rank bucket on the first_ref (row-id) axis.  2^20 keeps
#: the offset table at ~10^6 rows even for 10^12-row inputs; the offset
#: window touches only non-empty buckets.
RANK_BUCKET_W = 1 << 20


def id_set_lexicon(rows: DataFrame) -> DataFrame:
    """Assign every row's label set its IdSetLexicon id.

    ``rows``: (row_id long — the Add() call order; labels array<long> —
    non-negative, may contain duplicates, may be empty).  When row_id is
    unique the multi-set ids reproduce the sequential Add() order
    exactly; ties on first_ref (duplicate row ids) break
    lexicographically on the canonical key so the order stays total and
    the result partitioning-invariant.

    Output: (row_id long, set_size long, set_id long, id_set string)
    where set_size counts the canonical (deduped) set, set_id follows
    the reference encoding above, and id_set is the canonical set as a
    comma-joined string ('' for the empty set).
    """
    canon = rows.select(
        F.col("row_id").cast("long").alias("row_id"),
        F.array_sort(F.array_distinct("labels")).alias("canon"),
    ).select(
        "row_id",
        F.size("canon").cast("long").alias("set_size"),
        F.array_join(
            F.transform("canon", lambda x: x.cast("string")), ","
        ).alias("id_set"),
        F.try_element_at(F.col("canon"), F.lit(1))
        .cast("long")
        .alias("first_label"),
    )

    firsts = (
        canon.filter(F.col("set_size") >= 2)
        .groupBy("id_set")
        .agg(F.min("row_id").alias("first_ref"))
        .withColumn(
            "bucket", F.expr(f"first_ref div {RANK_BUCKET_W}")
        )
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy(F.col("first_ref").asc(), F.col("id_set").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = firsts.withColumn("rank_in", F.count(F.lit(1)).over(w_in))
    tot = firsts.groupBy("bucket").agg(F.count(F.lit(1)).alias("tot"))
    w_off = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = tot.select(
        "bucket",
        F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("boff"),
    )
    # seq (0-based first-seen SequenceLexicon id) = boff + rank_in - 1;
    # multi-set id = ~seq = -seq-1 = -(boff + rank_in).
    seq = cum.join(F.broadcast(off), "bucket").select(
        "id_set", (-(F.col("boff") + F.col("rank_in"))).alias("multi_id")
    )

    out = canon.join(seq, "id_set", "left")
    set_id = (
        F.when(F.col("set_size") == 0, F.lit(EMPTY_SET_ID))
        .when(F.col("set_size") == 1, F.col("first_label"))
        .otherwise(F.col("multi_id"))
    )
    return out.select(
        "row_id",
        "set_size",
        set_id.cast("long").alias("set_id"),
        "id_set",
    )


def id_set_lexicon_oracle_sql(src_sql: str) -> str:
    """DuckDB replay over ``src_sql`` (must yield row_id, labels)."""
    return f"""
WITH src AS ({src_sql}),
canon0 AS (
  SELECT row_id, list_sort(list_distinct(labels)) AS canon FROM src
),
canon AS (
  SELECT CAST(row_id AS BIGINT) AS row_id,
         CAST(len(canon) AS BIGINT) AS set_size,
         coalesce(array_to_string(canon, ','), '') AS id_set,
         CAST(canon[1] AS BIGINT) AS first_label
  FROM canon0
),
firsts AS (
  SELECT id_set, min(row_id) AS first_ref,
         min(row_id) // {RANK_BUCKET_W} AS bucket
  FROM canon WHERE set_size >= 2 GROUP BY id_set
),
cum AS (
  SELECT id_set, bucket,
         count(*) OVER (PARTITION BY bucket ORDER BY first_ref ASC, id_set ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS rank_in
  FROM firsts
),
tot AS (SELECT bucket, count(*) AS tot FROM firsts GROUP BY bucket),
off AS (
  SELECT bucket,
         coalesce(sum(tot) OVER (ORDER BY bucket ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS boff
  FROM tot
),
seq AS (
  SELECT c.id_set, -(o.boff + c.rank_in) AS multi_id
  FROM cum c JOIN off o USING (bucket)
)
SELECT canon.row_id, canon.set_size,
       CAST(CASE WHEN set_size = 0 THEN {EMPTY_SET_ID}
                 WHEN set_size = 1 THEN first_label
                 ELSE s.multi_id END AS BIGINT) AS set_id,
       canon.id_set
FROM canon LEFT JOIN seq s USING (id_set)
"""
