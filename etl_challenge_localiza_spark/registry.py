"""Query registry: every operator from SURVEY.md §2 (+ §2.9
extensions) as a named (PySpark plan, DuckDB oracle SQL) pair.

The verification driver runs each ``fn(spark, sf_dir)`` and the paired
``oracle`` SQL on the same parquet tables and compares row-count +
schema + order-insensitive value hash. Engine-portability rules used
throughout (so doubles hash identically across engines):

- sums of 2-decimal monetary doubles go through ``decimal`` so the sum
  is exact, then cast back to double (identical IEEE value in both
  engines regardless of partial-aggregation order);
- averages are written ``cast(exact_sum as double)/count`` (one
  deterministic double division), or exact-integer sums divided by
  counts;
- floating reductions whose accumulation order is engine-dependent
  (vector norms across rows) are rounded;
- per-row array folds (dot products, norms) run in element order with
  double accumulation in BOTH engines → bit-identical;
- every top-k has a total tiebreak order.

Reference queries map the ``events`` table onto the reference's
transactions schema (FIXTURES.md §B): ts→timestamp,
event_type→transaction_type ('purchase' ≙ 'sale'), value→amount,
user_id→receiving_address, nation-name-by-(user_id%25)→location_region,
props.k→risk_score.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import LANG_MARKERS, STOPWORDS, tokens
from .operators.analytics import last_sale_per_address, region_risk_avg, top3_recent_sales
from .operators.cleaning import clean_transactions
from .operators.dedup import (
    exact_dedup_groups,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash_near_dup_pairs,
)
from .operators.multimodal import assets_from_documents, extract_features
from .operators.quality import dq_profile_df
from .operators.similarity import (
    brp_lsh_ann_pairs,
    embedding_norms_by_label,
    knn_cosine,
)
from .operators.textops import (
    doc_quality,
    doc_stats,
    lang_id,
    lang_source_rollup,
    token_topk,
)
from .session import shuffle_width, tune
from .sources.readers import load_table

_log = logging.getLogger(__name__)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    headline: bool = False  # included in bench.py


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark, sf_dir)
            return fn(spark, sf_dir)

        QUERIES[name] = Query(name, wrapped, oracle, headline)
        return wrapped

    return deco


# ---------------------------------------------------------------------------
# events → transactions mapping (shared by the reference-shape queries)
# ---------------------------------------------------------------------------

def transactions_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.readers import spread_small_scan

    # Spread the RAW events scan before the per-row-heavy projection
    # (get_json_object + trims + casts): the local single-row-group
    # parquet file yields a one-task scan, and parsing 100 K JSON
    # props on one core dominated every txn-family query. Spreading
    # AFTER the projection (measured & rejected in the first r14
    # segment) keeps the parse serial and only adds a shuffle; raw-side
    # spread parallelizes the parse itself — interleaved medians at
    # sf0.1: txn_clean 0.69 -> 0.45 s. On a cluster-scale table the
    # scan is already wide and spread_small_scan returns it unchanged.
    ev = spread_small_scan(load_table(spark, sf_dir, "events"))
    nation = load_table(spark, sf_dir, "nation")
    return (
        ev.join(
            F.broadcast(nation),
            (ev["user_id"] % 25) == nation["n_nationkey"],
            "left",
        )
        .select(
            F.col("ts").alias("timestamp"),
            F.col("event_type").alias("transaction_type"),
            F.col("value").alias("amount"),
            F.col("user_id").cast("string").alias("receiving_address"),
            F.col("n_name").alias("location_region"),
            F.get_json_object("props", "$.k").cast("double").alias("risk_score"),
            F.col("event_id"),
        )
    )


#: the same mapping in DuckDB SQL (CTE body).
SQL_TXN = """
txn as (
  select e.ts as timestamp,
         e.event_type as transaction_type,
         e.value as amount,
         cast(e.user_id as varchar) as receiving_address,
         n.n_name as location_region,
         cast(json_extract_string(e.props, '$.k') as double) as risk_score,
         e.event_id as event_id
  from events e
  left join nation n on (e.user_id % 25) = n.n_nationkey
)
"""

#: the reference cleaning pipeline (flows/pipeline.py:112-160) in SQL,
#: with the deterministic keep-first-by-event_id dedup variant.
SQL_CLEANED = """
cleaned as (
  select * from (
    select timestamp,
           case when lower(trim(transaction_type)) in ('', 'nan', 'None') then null
                else lower(trim(transaction_type)) end as transaction_type,
           amount,
           case when trim(receiving_address) in ('', 'nan', 'None') then null
                else trim(receiving_address) end as receiving_address,
           case when trim(location_region) in ('', 'nan', 'None', '0') then null
                else trim(location_region) end as location_region,
           risk_score,
           event_id
    from txn
  )
  where timestamp is not null and transaction_type is not null
    and amount is not null and amount >= 0
  qualify row_number() over (
    partition by timestamp, receiving_address, transaction_type, amount
    order by event_id) = 1
)
"""


def _cleaned_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_transactions(
        transactions_from_events(spark, sf_dir), deterministic_order_col="event_id"
    )


# ---------------------------------------------------------------------------
# Reference-surface queries (SURVEY.md §2.2-2.7)
# ---------------------------------------------------------------------------

@register(
    "txn_clean",
    oracle=f"with {SQL_TXN}, {SQL_CLEANED} select * from cleaned",
    headline=True,
)
def q_txn_clean(spark, sf_dir):
    """P1-P12 + D1: the full clean/standardize pipeline
    (flows/pipeline.py:112-160) over the mapped events table."""
    return _cleaned_txn(spark, sf_dir)


@register(
    "txn_dq_profile",
    oracle=f"""
with {SQL_TXN},
agg as (
  select cast(count(*) as bigint) as total_rows,
         cast(sum(case when timestamp is null then 1 else 0 end) as bigint) as nulls_timestamp,
         cast(sum(case when transaction_type is null then 1 else 0 end) as bigint) as nulls_transaction_type,
         cast(sum(case when amount is null then 1 else 0 end) as bigint) as nulls_amount,
         cast(sum(case when receiving_address is null then 1 else 0 end) as bigint) as nulls_receiving_address,
         cast(sum(case when location_region is null then 1 else 0 end) as bigint) as nulls_location_region,
         cast(sum(case when risk_score is null then 1 else 0 end) as bigint) as nulls_risk_score,
         cast(sum(case when amount < 0 then 1 else 0 end) as bigint) as violations_amount_non_negative
  from txn
)
select *,
       cast(nulls_timestamp + nulls_transaction_type + nulls_amount
            + violations_amount_non_negative as bigint) as failed_rows_estimate,
       greatest(0.0, 1.0 - cast(nulls_timestamp + nulls_transaction_type + nulls_amount
            + violations_amount_non_negative as double)
            / (cast(total_rows as double) + 1e-9)) as conformity_rate
from agg
""",
)
def q_txn_dq_profile(spark, sf_dir):
    """A2-A6: single-pass DQ profile incl. the double-counting
    failed_rows_estimate and epsilon conformity (flows/pipeline.py:51-90)."""
    return dq_profile_df(transactions_from_events(spark, sf_dir))


@register(
    "region_risk_avg",
    oracle=f"""
with {SQL_TXN}, {SQL_CLEANED}
select location_region, avg(risk_score) as avg_risk_score
from cleaned where location_region is not null
group by 1
""",
    headline=True,
)
def q_region_risk_avg(spark, sf_dir):
    """A1/P13/O1: the reference's query #1 (flows/pipeline.py:178-186).
    risk_score is integer-valued so the double sum is exact."""
    return region_risk_avg(_cleaned_txn(spark, sf_dir))


@register(
    "last_sale_per_address",
    oracle=f"""
with {SQL_TXN}, {SQL_CLEANED}
select receiving_address, amount, timestamp
from cleaned
where transaction_type = 'purchase'
qualify row_number() over (
  partition by receiving_address
  order by timestamp desc, event_id desc) = 1
""",
    headline=True,
)
def q_last_sale_per_address(spark, sf_dir):
    """W1/P14-P16: latest 'sale' per address (flows/pipeline.py:189-203)
    with 'purchase' standing in for 'sale' and event_id as the
    determinism tiebreak (SURVEY.md §7.4.4)."""
    return last_sale_per_address(
        _cleaned_txn(spark, sf_dir), sale_value="purchase", tiebreaker="event_id"
    )


@register(
    "top3_recent_sales",
    oracle=f"""
with {SQL_TXN}, {SQL_CLEANED},
last_sale as (
  select receiving_address, amount, timestamp
  from cleaned
  where transaction_type = 'purchase'
  qualify row_number() over (
    partition by receiving_address
    order by timestamp desc, event_id desc) = 1
)
select * from last_sale order by amount desc, receiving_address limit 3
""",
)
def q_top3_recent_sales(spark, sf_dir):
    """O2: top-3 by amount over the latest-sale set
    (flows/pipeline.py:205-211) — plans as TakeOrderedAndProject."""
    ls = last_sale_per_address(
        _cleaned_txn(spark, sf_dir), sale_value="purchase", tiebreaker="event_id"
    )
    return top3_recent_sales(ls, tiebreaker="receiving_address")


@register(
    "epoch_ms_roundtrip",
    oracle="""
select event_id, make_timestamp(epoch_ms(ts) * 1000) as timestamp
from events
""",
)
def q_epoch_ms_roundtrip(spark, sf_dir):
    """P5-P7: epoch-unit auto-detection. ts → epoch millis →
    detect (median over 1e11 threshold → 'ms') → exact integer parse."""
    from .functions.timeparse import parse_timestamp_auto

    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("timestamp"),
    )
    out = parse_timestamp_auto(df, "timestamp")
    # NTZ output to match the (timezone-free) table convention
    return out.withColumn("timestamp", F.col("timestamp").cast("timestamp_ntz"))


# ---------------------------------------------------------------------------
# Analytics over the TPC-H-ish tables (bench headliners)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty,
       cast(sum(cast(l_extendedprice as decimal(12,2))) as double) as sum_base_price,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as sum_disc_price,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2)) * cast(1 + l_tax as decimal(12,2))) as double) as sum_charge,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*) as avg_qty,
       cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / count(*) as avg_price,
       cast(sum(cast(l_discount as decimal(12,2))) as double) / count(*) as avg_disc,
       cast(count(*) as bigint) as count_order
from lineitem
where l_shipdate <= timestamp '2000-09-02'
group by l_returnflag, l_linestatus
""",
    headline=True,
)
def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the A1 group-aggregate generalized to many
    aggregates. Exact money sums → engine-identical doubles, computed
    via functions.exactsum's split-long scheme: per-row values become
    unscaled int64 (decimal(12,2)-cast rounding, so row semantics are
    identical to the oracle's decimal SQL), products are exact long
    multiplies, and each sum is carried as a hi/lo int64 pair that
    recombines in decimal(38,0) post-aggregation — exact to ~2^83
    total units, i.e. safely past a 10^12-row lineitem, while keeping
    every per-row operation compact (Spark's decimal(p>18) SUM
    accumulator allocates per row; profiled 1.35 s → 0.86 s at sf0.1).
    The shipdate predicate pushes down to the parquet scan."""
    from .functions.exactsum import (
        direct_total,
        money_unscaled,
        split_sum,
        split_total,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rows = (
        li.filter(F.col("l_shipdate") <= F.expr("timestamp_ntz'2000-09-02 00:00:00'"))
        .select(
            "l_returnflag",
            "l_linestatus",
            money_unscaled("l_quantity").alias("qty_u"),
            money_unscaled("l_extendedprice").alias("price_u"),
            money_unscaled("l_discount").alias("disc_u"),
            # mirror the oracle's cast(1 -/+ x as decimal(12,2)) so the
            # per-row rounding is identical by construction
            money_unscaled("1 - l_discount").alias("dm_u"),
            money_unscaled("1 + l_tax").alias("tp_u"),
        )
        # exact products: (price*100) * (disc_mult*100) [* (tax_mult*100)]
        # → unscaled at 10^4 / 10^6, bounded ~2^31 / ~2^38 per row
        .withColumn("dp_u", F.col("price_u") * F.col("dm_u"))
        .withColumn("ch_u", F.col("dp_u") * F.col("tp_u"))
    )
    agg = rows.groupBy("l_returnflag", "l_linestatus").agg(
        # qty (≤2^13/row) and discount (≤10/row) sums can't approach
        # 2^63 at any table size worth naming — direct int64 sums
        F.sum("qty_u").alias("qty_s"),
        F.sum("disc_u").alias("disc_s"),
        *split_sum("price_u", "price"),
        *split_sum("dp_u", "dp"),
        *split_sum("ch_u", "ch"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        direct_total("qty_s", 2).alias("sum_qty"),
        split_total("price", 2).alias("sum_base_price"),
        split_total("dp", 4).alias("sum_disc_price"),
        split_total("ch", 6).alias("sum_charge"),
        (direct_total("qty_s", 2) / F.col("n")).alias("avg_qty"),
        (split_total("price", 2) / F.col("n")).alias("avg_price"),
        (direct_total("disc_s", 2) / F.col("n")).alias("avg_disc"),
        F.col("n").cast("long").alias("count_order"),
    )


@register(
    "revenue_by_region",
    oracle="""
select r_name,
       cast(sum(cast(o_totalprice as decimal(14,2))) as double) as revenue,
       cast(count(*) as bigint) as n_orders,
       cast(sum(cast(o_totalprice as decimal(14,2))) as double) / count(*) as avg_order_value
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name
""",
    headline=True,
)
def q_revenue_by_region(spark, sf_dir):
    """Star join: fact (orders) ⋈ customer ⋈ two fixed-cardinality dims.
    Only nation (25 rows) and region (5 rows) carry broadcast hints —
    customer scales linearly with SF, so orders⋈customer is left to AQE
    (broadcast at small SF, shuffle hash join at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    n = F.count(F.lit(1))
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.sum(dec).cast("double").alias("revenue"),
            n.cast("long").alias("n_orders"),
            (F.sum(dec).cast("double") / n).alias("avg_order_value"),
        )
    )


@register(
    "top10_orders",
    oracle="""
select o_orderkey, o_custkey, o_totalprice, o_orderdate
from orders order by o_totalprice desc, o_orderkey limit 10
""",
    headline=True,
)
def q_top10_orders(spark, sf_dir):
    """O2 generalized: global top-k without a global sort
    (TakeOrderedAndProject: per-partition heaps, driver merge)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "latest_order_per_customer",
    oracle="""
select o_custkey, o_orderkey, o_orderdate, o_totalprice
from orders
qualify row_number() over (
  partition by o_custkey order by o_orderdate desc, o_orderkey desc) = 1
""",
    headline=True,
)
def q_latest_order_per_customer(spark, sf_dir):
    """W1 generalized: latest-row-per-key window over the fact table."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "events_hourly",
    oracle="""
select date_trunc('hour', ts) as hour_start, event_type,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from events group by 1, 2
""",
    headline=True,
)
def q_events_hourly(spark, sf_dir):
    """Event-time tumbling-window aggregate (batch form; the streaming
    form in streaming.events_stream produces identical results)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        # date_trunc always yields LTZ; cast back to the NTZ convention
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


@register(
    "events_json_k_stats",
    oracle="""
select event_type,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as sum_k,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as double)
         / count(cast(json_extract_string(props, '$.k') as bigint)) as avg_k,
       cast(count(*) as bigint) as n_events
from events group by event_type
""",
)
def q_events_json_k_stats(spark, sf_dir):
    """Semi-structured extraction: props JSON → k, aggregated per type.
    (get_json_object runs JVM-side on the string column.)"""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@register(
    "priority_distinct_customers",
    oracle="""
select o_orderpriority,
       cast(count(distinct o_custkey) as bigint) as n_customers,
       cast(count(*) as bigint) as n_orders
from orders group by o_orderpriority
""",
)
def q_priority_distinct_customers(spark, sf_dir):
    """Distinct aggregate (expand+two-phase under the hood)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


@register(
    "region_priority_rollup",
    oracle="""
select coalesce(r_name, 'ALL') as region,
       coalesce(o_orderpriority, 'ALL') as priority,
       cast(count(*) as bigint) as n_orders,
       cast(sum(cast(o_totalprice as decimal(14,2))) as double) as revenue
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by rollup(r_name, o_orderpriority)
""",
)
def q_region_priority_rollup(spark, sf_dir):
    """Hierarchical ROLLUP totals over the star join. Broadcast hints
    only on fixed-cardinality dims (nation/region); orders⋈customer is
    AQE-decided because customer scales with SF."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .rollup("r_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@register(
    "customers_no_p_orders",
    oracle="""
select c_custkey, c_name from customer c
where not exists (
  select 1 from orders o
  where o.o_custkey = c.c_custkey and o.o_orderstatus = 'P')
""",
)
def q_customers_no_p_orders(spark, sf_dir):
    """Anti join (NOT EXISTS): customers with no pending-status order.
    The filter sits under the join, so only 'P' keys build the hash set."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "P"
    )
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "custkeys_with_both_statuses",
    oracle="""
select o_custkey from orders where o_orderstatus = 'F'
intersect
select o_custkey from orders where o_orderstatus = 'O'
""",
)
def q_custkeys_with_both_statuses(spark, sf_dir):
    """INTERSECT set operation (implicitly distinct in both engines;
    complements custkeys_f_except_o's EXCEPT): customers holding both
    an 'F' and an 'O' order. Catalyst rewrites INTERSECT to an
    aggregate + left-semi join (EXCEPT gets the left-anti form)."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


# ---------------------------------------------------------------------------
# Text analysis over documents (SURVEY.md §2.9)
# ---------------------------------------------------------------------------

#: portable tokenization in DuckDB SQL (single-space split, empties out).
SQL_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def _bpe_sweep(k: int) -> str:
    """One exact-greedy BPE training sweep as DuckDB CTEs (see
    q_bpe_train_encode): count adjacent symbol pairs over the current
    segmentation (word-frequency weighted), take the (count desc, pair
    asc) argmax with count >= 2, apply it as a left-to-right
    non-overlapping boundary-wrapped replace. Mirrors
    operators/bpe.py:train_bpe_merges sweep-for-sweep."""
    return f"""tk_{k} as (
  select n, list_filter(string_split(seg, chr(31)), x -> x <> '') as toks
  from s{k - 1}
),
p_{k} as (
  select toks[g] as a, toks[g + 1] as b, cast(sum(n) as bigint) as c
  from tk_{k}, unnest(generate_series(1, len(toks) - 1)) s(g)
  where len(toks) >= 2
  group by 1, 2
),
m_{k} as (
  select a, b from p_{k} where c >= 2
  order by c desc, a asc, b asc limit 1
),
s{k} as (
  select v.w, v.n,
         case when m.a is not null
              then replace(v.seg,
                           chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
                           chr(31) || m.a || m.b || chr(31))
              else v.seg end as seg
  from s{k - 1} v left join m_{k} m on true
)"""


#: Eight chained exact-greedy sweeps — the full n_merges=8 fit replay.
_BPE_SWEEPS = ",\n".join(_bpe_sweep(k) for k in range(1, 9))

_SW = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "doc_stats",
    oracle=f"""
select doc_id,
       cast(len({SQL_TOKS}) as bigint) as n_tokens,
       cast(length(text) as bigint) as n_chars_measured,
       substr(md5(text), 1, 16) as fingerprint,
       sha256(text) as content_sha
from documents
""",
    headline=True,
)
def q_doc_stats(spark, sf_dir):
    """Token counting + fingerprinting per document (one codegen pass)."""
    return doc_stats(load_table(spark, sf_dir, "documents"))


@register(
    "lang_source_rollup",
    oracle="""
select lang, source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as total_chars,
       cast(cast(sum(n_chars) as bigint) as double) / count(*) as avg_chars
from documents group by lang, source
""",
)
def q_lang_source_rollup(spark, sf_dir):
    """Corpus rollup by (lang, source) — integer-exact sums."""
    return lang_source_rollup(load_table(spark, sf_dir, "documents"))


@register(
    "token_top20",
    oracle=f"""
select t as token, cast(count(*) as bigint) as n
from (select unnest({SQL_TOKS}) as t from documents)
group by t order by n desc, token limit 20
""",
)
def q_token_top20(spark, sf_dir):
    """Corpus-wide token frequency top-k (explode → partial agg →
    TakeOrderedAndProject)."""
    return token_topk(load_table(spark, sf_dir, "documents"), 20)


@register(
    "doc_quality",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents)
select doc_id,
       cast(len(toks) as bigint) as n_tokens,
       case when len(toks) > 0
            then cast(len(list_distinct(toks)) as double) / cast(len(toks) as double)
            else 0.0 end as distinct_ratio,
       case when len(toks) > 0
            then cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as double)
                 / cast(len(toks) as double)
            else 0.0 end as stopword_ratio,
       0.4 * least(1.0, cast(len(toks) as double) / 50.0)
         + 0.3 * (case when len(toks) > 0
                  then cast(len(list_distinct(toks)) as double) / cast(len(toks) as double)
                  else 0.0 end)
         + 0.3 * (1.0 - (case when len(toks) > 0
                  then cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as double)
                       / cast(len(toks) as double)
                  else 0.0 end)) as quality_score
from t
""",
)
def q_doc_quality(spark, sf_dir):
    """Quality-score heuristic (length/diversity/stopword terms) —
    fixed-order double arithmetic, engine-identical."""
    return doc_quality(load_table(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    hits = ",\n       ".join(
        f"cast(len(list_intersect(toks, [{', '.join(repr(w) for w in ws)}])) as bigint) as hits_{lg}"
        for lg, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    chain = " ".join(f"when hits_{lg} = {best} then '{lg}'" for lg in langs)
    return f"""
with t as (select doc_id, lang, {SQL_TOKS} as toks from documents)
select doc_id, lang as lang_label,
       {hits},
       case when {best} = 0 then 'unknown' {chain} else 'unknown' end as lang_guess
from t
"""


@register("lang_id", oracle=_lang_id_oracle())
def q_lang_id(spark, sf_dir):
    """Marker-token language-ID heuristic (argmax with fixed-priority
    tie break)."""
    return lang_id(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Deduplication over documents (SURVEY.md §2.9)
# ---------------------------------------------------------------------------

@register(
    "exact_dedup_docs",
    oracle="""
select md5(text) as text_hash,
       cast(min(doc_id) as bigint) as keeper_doc_id,
       cast(count(*) as bigint) as n_copies
from documents group by md5(text)
""",
)
def q_exact_dedup_docs(spark, sf_dir):
    """Exact content dedup groups (md5 hash-groupBy, map-side partial)."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
with t as (select doc_id, lang, source, {SQL_TOKS} as toks from documents),
g as (select doc_id, lang, source, toks,
             unnest(generate_series(1, len(toks) - 2)) as g
      from t),
sh_all as (
  select distinct doc_id, lang, source,
         array_to_string(toks[g:g+2], ' ') as shingle
  from g
),
hot as (select lang, source, shingle from sh_all
        group by 1, 2, 3 having count(*) > 100),
sh as (
  select a.* from sh_all a
  where not exists (select 1 from hot h
                    where h.lang = a.lang and h.source = a.source
                      and h.shingle = a.shingle)
),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
inter as (
  select a.doc_id as da, b.doc_id as db, count(*) as ni
  from sh a
  join sh b on a.shingle = b.shingle and a.lang = b.lang
           and a.source = b.source and a.doc_id < b.doc_id
  group by 1, 2
)
select cast(da as bigint) as doc_id_a,
       cast(db as bigint) as doc_id_b,
       cast(ni as double) / cast(sa.n + sb.n - ni as double) as jaccard
from inter
join sizes sa on da = sa.doc_id
join sizes sb on db = sb.doc_id
where cast(ni as double) / cast(sa.n + sb.n - ni as double) >= 0.2
""",
    headline=True,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Blocked 3-gram Jaccard near-duplicate pairs (block = lang+source;
    exact rational jaccard → engine-identical doubles; shingles with
    block doc-frequency > 100 dropped on BOTH sides — df-capped
    jaccard, the quadratic-hot-key guard)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.2
    )


@register(
    "order_value_gini",
    oracle="""
with r as (
  select cast(o_totalprice as decimal(18,2)) as x,
         cast(row_number() over (order by o_totalprice, o_orderkey)
              as decimal(12,0)) as i
  from orders
),
agg as (
  select cast(count(*) as bigint) as n,
         sum(x) as sx,
         sum(i * x) as six
  from r
)
select n,
       round(cast(sx as double), 2) as total_value,
       round((2.0 * cast(six as double)
              - (n + 1.0) * cast(sx as double))
             / (n * cast(sx as double)), 6) as gini
from agg
""",
)
def q_order_value_gini(spark, sf_dir):
    """Gini coefficient of order-value concentration — the inequality
    summary (revenue concentration, whale detection, data-mixing skew
    audits): G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over values sorted
    ascending. Rank comes from the distributed ordered_row_number
    (never a one-task global window); Σx and Σ i·x are EXACT decimal
    sums (decimal(18,2) values × decimal(12,0) ranks — order-free),
    so the only doubles are the two final rounded expressions.
    (price, orderkey) total order makes ties deterministic."""
    from .operators.ranks import ordered_row_number

    r = ordered_row_number(
        load_table(spark, sf_dir, "orders").select(
            "o_totalprice", "o_orderkey"
        ),
        ["o_totalprice", "o_orderkey"],
        out_col="i",
    ).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
        F.col("i").cast("decimal(12,0)").alias("i"),
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    return agg.select(
        "n",
        F.round(F.col("sx").cast("double"), 2).alias("total_value"),
        F.round(
            (
                F.lit(2.0) * F.col("six").cast("double")
                - (F.col("n") + F.lit(1.0)) * F.col("sx").cast("double")
            )
            / (F.col("n").cast("double") * F.col("sx").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "user_survival_curve",
    oracle="""
with span as (
  select user_id,
         cast(min(cast(ts as date)) as date) as first_day,
         cast(max(cast(ts as date)) as date) as last_day
  from events group by user_id
),
life as (select user_id,
                (last_day - first_day) // 7 as weeks_active
         from span),
n as (select cast(count(*) as bigint) as n_users from life),
w as (select unnest(generate_series(0, (select max(weeks_active) from life)))
             as week)
select cast(w.week as bigint) as week,
       cast(count(l.user_id) as bigint) as n_surviving,
       round(cast(count(l.user_id) as double) / n.n_users, 6)
         as survival
from w
left join life l on l.weeks_active >= w.week
cross join n
group by w.week, n.n_users
""",
)
def q_user_survival_curve(spark, sf_dir):
    """Discrete retention/survival curve: fraction of users still
    active ≥ w weeks after their first event (lifetime = calendar
    weeks between first and last event) — the Kaplan-Meier-style
    retention summary behind churn dashboards (no censoring model:
    the observation window is the corpus). Scale shape: one user_id
    aggregate to per-user lifetimes, then a ≤max-weeks bounded
    explode (each user contributes one row per week survived — weeks
    are calendar-bounded, so the fan-out is a constant, the same
    bounded-explode trick as rolling_7d_active_users) and one count
    per week. Never a per-week rescan of events."""
    ev = load_table(spark, sf_dir, "events")
    life = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(
            F.floor(
                F.datediff(F.max("day"), F.min("day")) / F.lit(7)
            ).cast("long").alias("weeks_active")
        )
    )
    n = life.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    exploded = life.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("weeks_active"))
        ).alias("week")
    )
    return (
        exploded.groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_surviving"))
        .crossJoin(F.broadcast(n))
        .select(
            "week",
            "n_surviving",
            F.round(
                F.col("n_surviving").cast("double")
                / F.col("n_users").cast("double"),
                6,
            ).alias("survival"),
        )
    )


@register(
    "embedding_label_drift",
    oracle="""
with e as (
  select label, s.i as pos,
         cast(round(cast(embedding[s.i] as double) * 1000000.0) as bigint)
           as v
  from embeddings, unnest(generate_series(1, len(embedding))) s(i)
),
sums as (select label, pos, cast(sum(v) as bigint) as s
         from e group by 1, 2),
n as (select label, cast(count(*) as bigint) as n from embeddings
      group by 1),
cent as (
  select sums.label, n.n,
         list(cast(s as double) / (1000000.0 * n.n) order by pos) as c
  from sums join n using (label)
  group by sums.label, n.n
)
select a.label as label_a, b.label as label_b,
       a.n as n_a, b.n as n_b,
       round(list_sum(list_transform(list_zip(a.c, b.c),
                                     p -> p[1] * p[2]))
             / (sqrt(list_sum(list_transform(a.c, x -> x * x)))
                * sqrt(list_sum(list_transform(b.c, x -> x * x)))),
             6) as centroid_cosine
from cent a join cent b on a.label < b.label
""",
)
def q_embedding_label_drift(spark, sf_dir):
    """Embedding-distribution drift across labels: per-label centroid
    (EXACT 1e6-scaled integer sums per dimension — order-free, the
    float-partial-agg determinism recipe) and the pairwise cosine
    between label centroids — the monitoring primitive for 'did this
    source/label's embedding distribution move' (mean-embedding shift
    is the standard cheap drift signal before MMD/energy distances).
    Scale shape: one (label, pos) hash aggregate over the exploded
    dims (64·|labels| cells), centroids assembled as ordered arrays,
    pairwise cosine over the |labels|²-bounded centroid frame with
    element-order folds (F.aggregate ∘ zip_with == DuckDB list ops,
    bit-identical; single rounded divide per pair)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x").cast("double") * F.lit(1000000.0))
        .cast("long")
        .alias("v"),
    )
    sums = e.groupBy("label", "pos").agg(
        F.sum("v").cast("long").alias("s")
    )
    n = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cent = (
        sums.join(n, "label")
        .select(
            "label",
            "n",
            "pos",
            (
                F.col("s").cast("double")
                / (F.lit(1000000.0) * F.col("n").cast("double"))
            ).alias("c"),
        )
        .groupBy("label", "n")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda st: st["c"],
            ).alias("c")
        )
    )
    a, b = cent.alias("a"), cent.alias("b")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(
                dot(F.col("a.c"), F.col("b.c"))
                / (
                    F.sqrt(dot(F.col("a.c"), F.col("a.c")))
                    * F.sqrt(dot(F.col("b.c"), F.col("b.c")))
                ),
                6,
            ).alias("centroid_cosine"),
        )
    )


@register(
    "equi_depth_price_buckets",
    oracle="""
with r as (
  select o_totalprice,
         row_number() over (order by o_totalprice, o_orderkey) - 1 as rnk
  from orders
),
n as (select cast(count(*) as bigint) as n_total from orders)
select cast((rnk * 16) // n_total as bigint) as bucket,
       cast(count(*) as bigint) as n_rows,
       min(o_totalprice) as lo,
       max(o_totalprice) as hi
from r, n
group by 1
""",
)
def q_equi_depth_price_buckets(spark, sf_dir):
    """EXACT equi-depth (16-quantile) bucketing of o_totalprice — the
    range-partition planning primitive (terasort boundaries, balanced
    range-partitioned writes, quantile-bucketed joins): per bucket its
    row count and [lo, hi] value range; counts differ by ≤1 by
    construction, which is the balance guarantee sampled
    RangePartitioner boundaries only approximate. The global rank
    comes from operators/ranks.py:ordered_row_number — range-partition
    + per-partition window + broadcast offsets, NEVER the
    all-rows-to-one-task row_number the oracle's SQL form implies
    (that plan class is the documented hand-off this operator
    exists to avoid); bucket = floor(rank·16/N) with a (price,
    orderkey) total order so ties are deterministic cross-engine."""
    from .operators.ranks import ordered_row_number

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    n = orders.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = ordered_row_number(
        orders, ["o_totalprice", "o_orderkey"], out_col="pos"
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            # exact INTEGER floor division (SQL `div`) — a double
            # divide could round a near-boundary quotient up across
            # the bucket edge at large N; DuckDB's // is integral too
            "bucket",
            F.expr("((pos - 1) * 16) div n_total").cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "zipf_token_alpha",
    oracle=f"""
with tok as (select unnest({SQL_TOKS}) as token from documents),
cnt as (select token, cast(count(*) as bigint) as c from tok group by 1),
tot as (select cast(sum(c) as bigint) as n_total from cnt),
top as (select c, row_number() over (order by c desc, token asc) as r
        from cnt order by c desc, token asc limit 50),
pts as (select ln(cast(r as double)) as x, ln(cast(c as double)) as y,
               c from top),
m as (select cast(count(*) as bigint) as m, avg(x) as xb, avg(y) as yb,
             cast(sum(c) as bigint) as csum from pts)
select m.m,
       round(-(sum((x - xb) * (y - yb)) / sum((x - xb) * (x - xb))), 6)
         as zipf_alpha,
       round(cast(csum as double) / n_total, 6) as top_m_coverage
from pts, m, tot
group by m.m, csum, n_total
""",
)
def q_zipf_token_alpha(spark, sf_dir):
    """Zipf exponent of the token frequency distribution — corpus-card
    analytics (natural corpora fit ln(freq) ≈ −α·ln(rank) with α≈1;
    a far-off α flags synthetic, templated, or degenerate text):
    least-squares slope of the log-log rank-frequency line over the
    top 50 tokens, plus their mass coverage. Scale shape: one
    map-side-combined token count, a distributed top-50
    (TakeOrderedAndProject — never a global sort), then closed-form
    regression over 50 rows. The ln() noise is absorbed by the final
    6-dp rounds (the pmi precedent); ranks tie-break on token so both
    engines see identical points."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n_total = cnt.agg(F.sum("c").cast("long").alias("n_total"))
    top = (
        cnt.orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(50)
        .select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("token").asc()))
            .alias("r"),
        )
    )
    pts = top.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
        "c",
    )
    stats = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.avg("x").alias("xb"),
        F.avg("y").alias("yb"),
        F.sum("c").cast("long").alias("csum"),
    )
    fit = (
        pts.crossJoin(F.broadcast(stats))
        .groupBy("m", "csum")
        .agg(
            F.round(
                -(
                    F.sum((F.col("x") - F.col("xb")) * (F.col("y") - F.col("yb")))
                    / F.sum(
                        (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb"))
                    )
                ),
                6,
            ).alias("zipf_alpha")
        )
    )
    return fit.crossJoin(F.broadcast(n_total)).select(
        "m",
        "zipf_alpha",
        F.round(
            F.col("csum").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("top_m_coverage"),
    )


@register(
    "twap_user_day",
    oracle="""
with base as (
  select user_id, cast(ts as date) as day, event_id,
         epoch_us(ts) as t, cast(value as decimal(18,6)) as v
  from events
),
stepped as (
  select user_id, day, t, v,
         lead(t) over w as t2, lead(v) over w as v2
  from base
  window w as (partition by user_id, day order by t, event_id)
),
agg as (
  select user_id, day,
         cast(count(*) as bigint) as n_events,
         coalesce(sum(case when t2 is not null
                  then cast(v + v2 as decimal(25,6))
                       * cast(t2 - t as decimal(13,0)) end),
                  0) as area2,
         cast(max(t) - min(t) as bigint) as span_us,
         sum(v) as vsum
  from stepped group by 1, 2
)
select user_id, strftime(day, '%Y-%m-%d') as day, n_events,
       case when span_us > 0
            then round(cast(area2 as double) / (2.0 * span_us), 6)
            else round(cast(vsum as double) / n_events, 6) end as twap
from agg
""",
)
def q_twap_user_day(spark, sf_dir):
    """Time-weighted average value per (user, day) via trapezoidal
    integration (operators/timeseries.py:twap_user_day) — the
    irregular-sampling aggregate (TWAP in market data, duty-cycle
    averages in sensor data) a plain AVG mis-weights. Exact decimal
    trapezoid terms (order-free sums), one (user, day) exchange
    shared by the lead() window and the aggregate, single rounded
    divide per group; span-0 groups fall back to the exact mean."""
    from .operators.timeseries import twap_user_day

    return twap_user_day(load_table(spark, sf_dir, "events"))


@register(
    "mg_rescored_top_tokens",
    oracle=f"""
with tok as (select unnest({SQL_TOKS}) as token from documents)
select token, cast(count(*) as bigint) as n
from tok group by token
order by n desc, token asc
limit 25
""",
)
def q_mg_rescored_top_tokens(spark, sf_dir):
    """Sketch-accelerated EXACT top-25 tokens (operators/sketches.py:
    mg_rescored_topk — the two-pass candidates-then-rescore pattern):
    a k=256 Misra-Gries pass nominates candidates (any token with
    frequency > N/257 is guaranteed in), then one NDV≤k+1 exact
    recount (everything else folds into __other__) proves the
    guarantee covers 25 ranks and emits the top 25. The oracle is the
    PLAIN exact top-25 SQL — the guard makes the two plans provably
    equal, which is what flips this sketch family member to
    full-oracle while the raw MG summary (mg_heavy_hitter_tokens)
    stays rows-only by nature (its contents are partition-dependent).
    At 100 TB the full-vocabulary groupBy the oracle runs is the
    expensive plan; the two-pass plan's state is k-bounded end to
    end."""
    from .operators.sketches import mg_rescored_topk

    return mg_rescored_topk(
        load_table(spark, sf_dir, "documents").select(
            F.explode(tokens("text")).alias("token")
        ),
        "token",
        topk=25,
        k=256,
    )


@register(
    "cms_join_size_estimate",
    oracle="""
with a as (select cast(user_id as varchar) as item from events
           where event_type = 'click'),
b as (select cast(user_id as varchar) as item from events
      where event_type = 'purchase'),
fa as (select item, cast(count(*) as bigint) as na from a group by 1),
fb as (select item, cast(count(*) as bigint) as nb from b group by 1),
exact as (select cast(coalesce(sum(na * nb), 0) as bigint) as exact_size
          from fa join fb using (item)),
ca as (select t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15))
                   as bigint) % 256 as bucket,
              cast(sum(na) as bigint) as cell
       from fa, range(0, 4) t(i) group by 1, 2),
cb as (select t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15))
                   as bigint) % 256 as bucket,
              cast(sum(nb) as bigint) as cell
       from fb, range(0, 4) t(i) group by 1, 2),
rowsums as (select ca.row, sum(ca.cell * cb.cell) as s
            from ca join cb using (row, bucket) group by ca.row),
est as (select cast(min(s) as bigint) as cms_estimate from rowsums)
select exact_size, cms_estimate,
       round(cast(cms_estimate - exact_size as double)
             / cast(exact_size as double), 6) as rel_err
from exact cross join est
""",
)
def q_cms_join_size_estimate(spark, sf_dir):
    """Join-cardinality estimation by Count-Min INNER PRODUCT
    (operators/sketches.py:cms_join_size_estimate): |clicks ⋈_user
    purchases| = Σ_u f_click(u)·f_purchase(u), estimated as the min
    over d hash rows of the cellwise product of two d×256 sketches —
    the streaming-sketch answer to 'how big will this join be'
    (planner join-strategy selection without touching either table;
    never underestimates). Reported beside the exact size with the
    relative error. Everything is md5-portable-bucketed exact integer
    arithmetic, so the oracle replays sketch construction, inner
    product, AND the exact ground truth."""
    from .operators.sketches import cms_join_size_estimate

    ev = load_table(spark, sf_dir, "events")
    return cms_join_size_estimate(
        ev.filter(F.col("event_type") == "click").select("user_id"),
        ev.filter(F.col("event_type") == "purchase").select("user_id"),
        "user_id",
        width=256,
    )


@register(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 2)) as g
      from t),
sh as (select distinct doc_id, array_to_string(toks[g:g+2], ' ') as shingle
       from g),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
inter as (
  select a.doc_id as da, b.doc_id as db, count(*) as ni
  from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
)
select cast(da as bigint) as doc_id_a,
       cast(db as bigint) as doc_id_b,
       cast(ni as double) / cast(sa.n + sb.n - ni as double) as jaccard
from inter
join sizes sa on da = sa.doc_id
join sizes sb on db = sb.doc_id
where cast(ni as double) / cast(sa.n + sb.n - ni as double) >= 0.5
""",
)
def q_prefix_filter_jaccard_pairs(spark, sf_dir):
    """PREFIX-FILTERING set-similarity join (operators/dedup.py:
    prefix_filter_jaccard_pairs — the PPJoin/AllPairs candidate
    family): ALL doc pairs with 3-gram Jaccard ≥ 0.5, exact and
    complete with NO blocking columns, df caps, or LSH probability —
    the third candidate-generation technique in the dedup ladder.
    Candidates form by equi-join on each doc's rarest-first PREFIX
    (|S| − ⌈t·|S|⌉ + 1 shingles under one global (df, hash) order:
    J ≥ t pairs must intersect within their prefixes); exact
    verification touches candidates only. The oracle replays the
    mathematically equal DIRECT all-pairs jaccard — the output is
    prefix-order-independent, so the hashed fast path (8-byte shingle
    hashes, no strings shuffled) hash-matches the string-shingle SQL
    while collisions are absent (ngram_jaccard_pairs' contract)."""
    from .operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


#: portable MinHash oracle pieces: ONE 60-bit md5 base hash per shingle
#: (mirrors operators.dedup.portable_hash60) fed through the universal-
#: hash family (a_i·x + b_i) mod 2^61−1 in hugeint, md5 band buckets.
from .operators.dedup import MINHASH_MOD, minhash_params  # noqa: E402

_MH_MINS = ",\n       ".join(
    "min(cast((base * {a} + {b}) % {m} as bigint)) as mh_{i}".format(
        a=minhash_params(i)[0], b=minhash_params(i)[1], m=MINHASH_MOD, i=i
    )
    for i in range(16)
)
_MH_BANDS = "\n  union all\n  ".join(
    f"select doc_id, {b} as band, md5(concat_ws(',', "
    + ", ".join(f"cast(mh_{b * 4 + r} as varchar)" for r in range(4))
    + ")) as bucket from sig"
    for b in range(4)
)


@register(
    "minhash_near_dup",
    headline=True,
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 2)) as g from t),
sh as (select doc_id, array_to_string(toks[g:g+2], ' ') as shingle from g),
sh2 as (select doc_id, shingle,
        cast(cast(concat('0x', substr(md5(shingle), 1, 15)) as bigint) as hugeint) as base
        from sh),
sig as (select doc_id,
       {_MH_MINS}
from sh2 group by doc_id),
buckets as (
  {_MH_BANDS}
),
cand as (select distinct a.doc_id as da, b.doc_id as db
         from buckets a join buckets b
           on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id),
shd as (select distinct doc_id, shingle from sh),
sizes as (select doc_id, count(*) as n from shd group by doc_id),
inter as (select c.da, c.db, count(*) as ni
          from cand c
          join shd a on a.doc_id = c.da
          join shd b on b.doc_id = c.db and b.shingle = a.shingle
          group by c.da, c.db)
select cast(i.da as bigint) as doc_id_a, cast(i.db as bigint) as doc_id_b,
       cast(i.ni as double) / cast(sa.n + sb.n - i.ni as double) as jaccard
from inter i
join sizes sa on i.da = sa.doc_id
join sizes sb on i.db = sb.doc_id
where cast(i.ni as double) / cast(sa.n + sb.n - i.ni as double) >= 0.2
""",
)
def q_minhash_near_dup(spark, sf_dir):
    """MinHash(16) + 4-band LSH near-dup pairs, exact-verified.

    md5-derived 60-bit signature hashes + md5 band buckets, so the
    ENTIRE LSH pipeline — signatures, banding, candidate generation,
    exact-jaccard verify — is value-checked against the DuckDB
    oracle."""
    return minhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3, num_hashes=16, bands=4, threshold=0.2,
    )


#: portable SimHash oracle pieces: bit b of md5(token) = bit (b mod 4)
#: of hex digit (b div 4); sign-summed per doc, assembled into a long
#: (bit 63 via the min-long literal — DuckDB's << errors at 63).
_SH_BITSUMS = ",\n       ".join(
    f"sum(case when ((strpos('0123456789abcdef', substr(hx, {b // 4 + 1}, 1)) - 1 >> {b % 4}) & 1) = 1 then 1 else -1 end) as s_{b}"
    for b in range(64)
)
_SH_SIG = " + ".join(
    ["case when s_63 > 0 then (-9223372036854775808)::bigint else 0::bigint end"]
    + [f"(case when s_{b} > 0 then 1::bigint else 0::bigint end << {b})" for b in range(63)]
)


@register(
    "simhash_near_dup",
    oracle=f"""
with tok as (select doc_id, unnest({SQL_TOKS}) as token from documents),
h as (select doc_id, substr(md5(token), 1, 16) as hx from tok),
bits as (select doc_id,
       {_SH_BITSUMS}
from h group by doc_id),
sig as (select doc_id, {_SH_SIG} as simhash from bits),
chunks as (select doc_id, simhash, u.chunk, (simhash >> (u.chunk * 16)) & 65535 as val
           from sig cross join (select unnest(generate_series(0, 3)) as chunk) u),
pairs as (select distinct x.doc_id as da, x.simhash as ha, y.doc_id as db, y.simhash as hb
          from chunks x join chunks y
            on x.chunk = y.chunk and x.val = y.val and x.doc_id < y.doc_id)
select cast(da as bigint) as doc_id_a, cast(db as bigint) as doc_id_b,
       cast(bit_count(xor(ha, hb)) as int) as hamming
from pairs
where bit_count(xor(ha, hb)) <= 3
""",
)
def q_simhash_near_dup(spark, sf_dir):
    """64-bit SimHash near-dup pairs (Hamming ≤ 3), chunk-banded.

    Signature bits are md5 hex-digit bits, so signatures,
    16-bit-chunk banding and the xor+bit_count verify are all
    value-checked against the DuckDB oracle."""
    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings (SURVEY.md §2.9)
# ---------------------------------------------------------------------------

@register(
    "embedding_norms_by_label",
    oracle="""
select label, cast(count(*) as bigint) as n_vectors,
       round(avg(sqrt(list_sum(list_transform(embedding,
             x -> cast(x as double) * cast(x as double))))), 6) as avg_norm
from embeddings group by label
""",
)
def q_embedding_norms_by_label(spark, sf_dir):
    """Vector-corpus profile: per-label count + mean L2 norm (per-row
    fold exact; cross-row avg rounded)."""
    return embedding_norms_by_label(load_table(spark, sf_dir, "embeddings"))


@register(
    "knn_cosine_vec0",
    oracle="""
with q as (select embedding as qe, label as qlabel from embeddings where vec_id = 0),
s as (
  select e.vec_id, e.label,
         list_dot_product(list_transform(e.embedding, x -> cast(x as double)),
                          list_transform(q.qe, x -> cast(x as double))) as dp,
         list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))) as na,
         list_sum(list_transform(q.qe, x -> cast(x as double) * cast(x as double))) as nb
  from embeddings e, q
  where e.vec_id <> 0
)
select vec_id, label, round(dp / sqrt(na * nb), 6) as cos_sim
from s order by cos_sim desc, vec_id limit 10
""",
    headline=True,
)
def q_knn_cosine_vec0(spark, sf_dir):
    """Exact brute-force cosine top-10 for vec_id=0 (broadcast query
    row; element-order double folds → engine-identical sims)."""
    return knn_cosine(load_table(spark, sf_dir, "embeddings"), query_vec_id=0, k=10)


@register(
    "brp_lsh_ann_pairs",
    oracle="""
with pv0 as (
  select h.h,
         list((cast(cast(concat('0x',
                  substr(md5(concat(cast(h.h as varchar), ':',
                                    cast(i.i as varchar))), 1, 15))
                as bigint) as double) / 1152921504606846976.0) * 2.0 - 1.0
              order by i.i) as rv0
  from range(0, 3) h(h), range(1, 65) i(i)
  group by h.h
),
pv as (
  select h, list_transform(rv0,
             x -> x / sqrt(list_sum(list_transform(rv0, y -> y * y)))) as rv
  from pv0
),
ve as (select vec_id, list_transform(embedding, x -> cast(x as double)) as e
       from embeddings),
hb as materialized (
  select v.vec_id, p.h,
         cast(floor(list_sum(list_transform(range(1, 65),
                     i -> v.e[i] * p.rv[i])) / 1.0) as bigint) as bucket
  from ve v cross join pv p
),
cand as (
  select distinct x.vec_id as va, y.vec_id as vb
  from hb x join hb y
    on x.h = y.h and x.bucket = y.bucket and x.vec_id < y.vec_id
),
dd as (
  select c.va, c.vb,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> (a.e[i] - b.e[i]) * (a.e[i] - b.e[i])))) as dist
  from cand c
  join ve a on a.vec_id = c.va
  join ve b on b.vec_id = c.vb
)
select va as vec_id_a, vb as vec_id_b, round(dist, 6) as euclidean_dist
from dd where dist < 1.2
""",
)
def q_brp_lsh_ann_pairs(spark, sf_dir):
    """Approximate NN pairs via bucketed-random-projection LSH —
    FULL-ORACLE since r12 (r11 directive #2): md5-derived uniform
    projection directions both engines recompute identically (Spark
    ML's seeded-RNG gaussian hyperplanes, the reason this was once
    rows-only, are gone), then floor(v·r / bucketLength) bucketing,
    (table, bucket) equi-join candidates, and exact euclidean verify
    < 1.2 — the whole LSH pipeline value-checked cross-engine,
    completing the ANN ladder's oracle coverage (IVF and PQ-ADC
    already were). tests/test_similarity.py pins its recall floor
    against brute force."""
    return brp_lsh_ann_pairs(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Multimodal + streaming
# ---------------------------------------------------------------------------

@register(
    "multimodal_features",
    oracle="""
select doc_id as asset_id,
       'image' as kind,
       cast(octet_length(encode(text)) as bigint) as n_bytes,
       sha256(text) as content_sha
from documents
""",
)
def q_multimodal_features(spark, sf_dir):
    """Binary-payload metadata extraction through the REAL Arrow
    mapInPandas path (byte length + sha256 oracle-checked; width/height
    come from a deterministic payload hash and are not projected)."""
    assets = assets_from_documents(load_table(spark, sf_dir, "documents"))
    return extract_features(assets).select("asset_id", "kind", "n_bytes", "content_sha")


@register(
    "multimodal_decode",
    oracle="""
select doc_id as asset_id,
       cast(4 + doc_id % 13 as int) as width,
       cast(3 + doc_id % 7 as int) as height,
       cast(doc_id % 256 as double) as mean_pixel,
       cast(9 + length(cast(4 + doc_id % 13 as varchar))
              + length(cast(3 + doc_id % 7 as varchar))
              + 3 * (4 + doc_id % 13) * (3 + doc_id % 7) as bigint) as n_bytes
from documents
""",
)
def q_multimodal_decode(spark, sf_dir):
    """REAL image decode through the Arrow mapInPandas path: each doc_id
    becomes a genuine binary PPM (P6) payload whose bytes the pure-
    Python decoder (operators/multimodal.py:decode_image) actually
    parses — width/height from the header, mean pixel over the raster.
    Because the images are deterministic functions of doc_id, the
    oracle states the decoded values in closed form (header = 9 bytes +
    the two dimension strings; raster = 3wh constant bytes), so a
    decoder that misparses headers, strides or pixel data hash-fails.
    Compressed formats (JPEG/PNG) still require absent codec libs:
    decode_image refuses them with ValueError."""
    from .operators.multimodal import extract_image_features, synthetic_ppm_assets

    docs = load_table(spark, sf_dir, "documents")
    return extract_image_features(synthetic_ppm_assets(docs))


@register(
    "streaming_hourly",
    oracle="""
select date_trunc('hour', ts) as hour_start, event_type,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from events group by 1, 2
""",
)
def q_streaming_hourly(spark, sf_dir):
    """Structured Streaming tumbling-window aggregate (availableNow over
    the events parquet, complete mode → memory sink). Produces exactly
    the batch events_hourly result."""
    from .streaming.events_stream import run_streaming_hourly

    return run_streaming_hourly(spark, sf_dir)


# ---------------------------------------------------------------------------
# Advanced relational / time-series / vector operators
# ---------------------------------------------------------------------------

@register(
    "asof_latest_order",
    oracle="""
with o as (
  select o_custkey, o_orderdate, o_orderkey, o_totalprice
  from orders
  qualify row_number() over (
    partition by o_custkey, o_orderdate order by o_orderkey desc) = 1
)
select e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
from events e
asof join o on e.user_id = o.o_custkey and e.ts >= o.o_orderdate
""",
    headline=True,
)
def q_asof_latest_order(spark, sf_dir):
    """As-of join: each event picks up the customer's most recent order
    state at event time (union + keyed-window carry-forward — one
    shuffle, no range blow-up). Orders are pre-deduped per
    (custkey, date) keeping max orderkey so the pick is deterministic."""
    from pyspark.sql import Window

    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    o = (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return asof_join(
        ev, o,
        left_key="user_id", right_key="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        how="inner",
    )


@register(
    "user_sessions",
    oracle="""
with flagged as (
  select user_id, event_id, ts,
         case when epoch_us(ts) - lag(epoch_us(ts)) over w is null
                or epoch_us(ts) - lag(epoch_us(ts)) over w > 1800000000
              then 1 else 0 end as new_session
  from events
  window w as (partition by user_id order by ts, event_id)
),
with_id as (
  select user_id, ts,
         cast(sum(new_session) over (partition by user_id order by ts, event_id
              rows between unbounded preceding and current row) as bigint) as session_id
  from flagged
)
select user_id, session_id,
       cast(count(*) as bigint) as n_events,
       min(ts) as session_start,
       max(ts) as session_end,
       cast(max(epoch_us(ts)) - min(epoch_us(ts)) as double) / 1000000.0 as duration_s
from with_id
group by user_id, session_id
""",
    headline=True,
)
def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min gap), exact integer-µs gap
    arithmetic. Batch analog of streaming session_window."""
    from .operators.sessions import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "tfidf_top_terms",
    headline=True,
    oracle=f"""
with tok as (select doc_id, unnest({SQL_TOKS}) as token from documents),
tf as (select doc_id, token, cast(count(*) as bigint) as tf from tok group by 1, 2),
df as (select token, cast(count(distinct doc_id) as bigint) as df from tok group by 1),
n as (select cast(count(*) as double) as n from documents),
scored as (
  select tf.doc_id, tf.token, tf.tf, df.df,
         round(cast(tf.tf as double) * (ln((n.n + 1.0) / (cast(df.df as double) + 1.0)) + 1.0), 6) as tfidf
  from tf join df using (token), n
)
select doc_id, token, tf, df, tfidf,
       cast(row_number() over (partition by doc_id order by tfidf desc, token) as bigint) as rank
from scored
qualify rank <= 3
""",
)
def q_tfidf_top_terms(spark, sf_dir):
    """Exact TF-IDF, top-3 terms per document (smoothed ln idf)."""
    from .operators.textops import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register(
    "ivf_assignments",
    oracle="""
with c as (select vec_id as centroid_id,
                  list_transform(embedding, x -> cast(x as double)) as ce
           from embeddings where vec_id < 8),
s as (
  select e.vec_id, c.centroid_id,
         round(sqrt(list_sum(list_transform(
             list_zip(list_transform(e.embedding, x -> cast(x as double)), c.ce),
             p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) as dist
  from embeddings e, c
)
select vec_id, centroid_id, dist
from s
qualify row_number() over (partition by vec_id order by dist, centroid_id) = 1
""",
)
def q_ivf_assignments(spark, sf_dir):
    """IVF coarse quantization: nearest-centroid assignment over 8
    deterministic seed centroids (the bucketing step of IVF-ANN)."""
    from .operators.similarity import ivf_assign

    return ivf_assign(load_table(spark, sf_dir, "embeddings"), n_centroids=8)


@register(
    "value_percentiles",
    oracle="""
select event_type,
       quantile_cont(value, 0.5) as p50,
       quantile_cont(value, 0.9) as p90,
       quantile_cont(value, 0.99) as p99,
       cast(count(*) as bigint) as n
from events group by event_type
""",
)
def q_value_percentiles(spark, sf_dir):
    """Exact linear-interpolation percentiles (verified bit-identical
    to DuckDB's quantile_cont). The 100 TB path swaps in
    percentile_approx — see approx_event_stats."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register("approx_event_stats")  # rows-only: sketch internals are engine-specific
def q_approx_event_stats(spark, sf_dir):
    """The sketch-based scale path: approx_count_distinct (HLL++) and
    percentile_approx per event type, with exact counterparts for
    error inspection. Accuracy is asserted with explicit tolerances in
    tests/test_approx.py (HLL++ rel-err <= 3*rsd; approx p90 inside the
    exact p85..p95 envelope)."""
    from .sources.readers import spread_small_scan

    # spread the one-task local scan: the exact percentile/HLL partial
    # aggregates buffer every value and ran serially inside the scan
    # stage (optimization r14, second segment; no-op at cluster scan
    # width — exec 3.8 -> ~1 s at sf0.1)
    ev = spread_small_scan(load_table(spark, sf_dir, "events"))
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").cast("long").alias("approx_users"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.percentile_approx("value", 0.9).alias("approx_p90"),
        F.expr("percentile(value, 0.9)").alias("exact_p90"),
    )


@register(
    "user_event_type_pivot",
    oracle="""
select user_id,
       cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as click,
       cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as error,
       cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as purchase,
       cast(sum(case when event_type = 'signup' then 1 else 0 end) as bigint) as signup,
       cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as view
from events group by user_id
""",
)
def q_user_event_type_pivot(spark, sf_dir):
    """Pivot: per-user event-type counts as columns (explicit value
    list so the output schema is static — required at scale anyway to
    avoid a pre-pass)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@register(
    "lang_source_cube",
    oracle="""
select coalesce(lang, 'ALL') as lang_group,
       coalesce(source, 'ALL') as source_group,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as total_chars
from documents group by cube(lang, source)
""",
)
def q_lang_source_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations over (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_group"),
            F.coalesce("source", F.lit("ALL")).alias("source_group"),
            "n_docs",
            "total_chars",
        )
    )


@register(
    "custkeys_f_except_o",
    oracle="""
select o_custkey from orders where o_orderstatus = 'F'
except
select o_custkey from orders where o_orderstatus = 'O'
""",
)
def q_custkeys_f_except_o(spark, sf_dir):
    """Set operation (EXCEPT — distinct difference in both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)


@register(
    "salted_revenue_by_region",
    oracle="""
select r_name,
       cast(sum(cast(o_totalprice as decimal(14,2))) as double) as revenue,
       cast(count(*) as bigint) as n_orders
from orders
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by r_name
""",
)
def q_salted_revenue_by_region(spark, sf_dir):
    """Skew-mitigated variant of revenue_by_region: the orders⋈customer
    join is salted (fact side salted on xxhash64(o_orderkey) % 8, dim
    side replicated ×8, shuffle-hash forced so the salt actually
    spreads partitions). The oracle is the PLAIN join — salting must
    be result-invariant, and this query proves it on every run."""
    from .operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = salted_join(
        orders, customer,
        fact_key="o_custkey", dim_key="c_custkey",
        salt_source="o_orderkey", force_shuffle=True,
    )
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    return (
        joined.join(F.broadcast(nation), F.col("c_nationkey") == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.sum(dec).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


@register(
    "stateful_user_totals",
    oracle="""
select user_id,
       cast(count(*) as bigint) as n_events,
       round(sum(value), 2) as total_value
from events group by user_id
""",
)
def q_stateful_user_totals(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals over the event stream. With availableNow on
    a finite input the final state equals the batch aggregate — which
    is the oracle."""
    from .streaming.stateful import run_stateful_user_totals

    return run_stateful_user_totals(spark, sf_dir)


@register(
    "label_centroids",
    oracle="""
with g as (select label, embedding,
                  unnest(generate_series(1, len(embedding))) as pos
           from embeddings)
select label, cast(pos as int) as pos,
       round(avg(cast(embedding[pos] as double)), 5) as centroid_val
from g group by label, pos
""",
)
def q_label_centroids(spark, sf_dir):
    """Per-label mean vector (long format: one row per (label, dim)).
    posexplode → hash aggregate; the centroid computation used by IVF
    training / class prototypes. Cross-row float avg → rounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 5).alias("centroid_val"))
    )


@register(
    "hashing_tfidf_norms",
    oracle=f"""
with t as (select doc_id, unnest({SQL_TOKS}) as w from documents),
b as (select doc_id,
             cast(concat('0x', substr(md5(w), 1, 15)) as bigint) % 1024
               as bucket
      from t),
tf as (select doc_id, bucket, cast(count(*) as bigint) as tf
       from b group by 1, 2),
dfb as (select bucket, cast(count(*) as bigint) as df from tf group by 1),
nd as (select cast(count(*) as bigint) as n from documents),
v as (select tf.doc_id, tf.bucket,
             cast(tf.tf as double) * ln((n + 1.0) / (df + 1.0)) as v
      from tf join dfb using (bucket) cross join nd),
norms as (select doc_id,
                 round(sqrt(list_sum(list_transform(
                         list(v order by bucket), x -> x * x))), 6)
                   as tfidf_l2_norm
          from v group by doc_id)
select d.doc_id,
       coalesce(norms.tfidf_l2_norm, 0.0) as tfidf_l2_norm
from documents d left join norms using (doc_id)
""",
)
def q_hashing_tfidf_norms(spark, sf_dir):
    """The production TF-IDF path at scale: fixed-width FEATURE
    HASHING (no vocabulary shuffle, O(1) executor memory; collisions
    merge counts) + ln((N+1)/(df+1)) idf, reduced to per-doc L2 norms.

    FULL ORACLE since round 11 (VERDICT r10 #5): the registry pins
    the md5-portable bucket hash
    (operators/textops.py:feature_hashing_tfidf_norms), so DuckDB
    replays hashing, bucket-df, idf, and the bucket-ordered square-sum
    fold exactly. tests/test_textops.py also checks it against a
    hashlib reconstruction on a collision-forcing synthetic corpus and
    against the provable hashed-L2 ≤ exact-L1 bound vs exact TF-IDF."""
    from .operators.textops import feature_hashing_tfidf_norms

    return feature_hashing_tfidf_norms(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# LLM-corpus compositions: end-to-end dedup, contamination, corpus stats
# ---------------------------------------------------------------------------

#: shared CTE text: blocked 3-gram jaccard pairs over documents
#: (same logic as the ngram_jaccard_pairs query).
SQL_JACCARD_CTES = f"""
t as (select doc_id, lang, source, {SQL_TOKS} as toks from documents),
g as (select doc_id, lang, source, toks,
             unnest(generate_series(1, len(toks) - 2)) as g
      from t),
sh_all as (
  select distinct doc_id, lang, source,
         array_to_string(toks[g:g+2], ' ') as shingle
  from g
),
hot as (select lang, source, shingle from sh_all
        group by 1, 2, 3 having count(*) > 100),
sh as (
  select a.* from sh_all a
  where not exists (select 1 from hot h
                    where h.lang = a.lang and h.source = a.source
                      and h.shingle = a.shingle)
),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
inter as (
  select a.doc_id as da, b.doc_id as db, count(*) as ni
  from sh a
  join sh b on a.shingle = b.shingle and a.lang = b.lang
           and a.source = b.source and a.doc_id < b.doc_id
  group by 1, 2
),
jaccard_pairs as (
  select da, db,
         cast(ni as double) / cast(sa.n + sb.n - ni as double) as jaccard
  from inter
  join sizes sa on da = sa.doc_id
  join sizes sb on db = sb.doc_id
)
"""


@register(
    "dedup_corpus",
    headline=True,
    oracle=f"""
with {SQL_JACCARD_CTES},
exact_drop as (
  select doc_id from (
    select doc_id, row_number() over (partition by md5(text) order by doc_id) as rn
    from documents) where rn > 1
),
near_drop as (select distinct db as doc_id from jaccard_pairs where jaccard >= 0.2)
select d.doc_id, d.lang, d.source, d.n_chars
from documents d
where not exists (select 1 from exact_drop x where x.doc_id = d.doc_id)
  and not exists (select 1 from near_drop x where x.doc_id = d.doc_id)
""",
)
def q_dedup_corpus(spark, sf_dir):
    """End-to-end corpus dedup: drop exact duplicates (keep lowest
    doc_id per md5) AND the higher-id side of every blocked near-dup
    pair. The drop lists are usually tiny (the LSH stage's output at
    100 TB), but they scale with the dup rate, so the anti join carries
    no forced hint — AQE picks broadcast while they fit."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    exact_drop = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
        )
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    near_drop = (
        ngram_jaccard_pairs(docs, n=3, threshold=0.2)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    drop = exact_drop.union(near_drop).distinct()
    # no broadcast hint on the drop list — it scales with the corpus
    # dup rate; AQE broadcasts it while small (policy: hints only on
    # fixed-cardinality sides)
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "benchmark_contamination",
    oracle=f"""
with t as (select doc_id, source, {SQL_TOKS} as toks from documents),
g as (select doc_id, source, toks,
             unnest(generate_series(1, len(toks) - 4)) as g
      from t),
sh as (
  select distinct doc_id, source,
         array_to_string(toks[g:g+4], ' ') as shingle
  from g
),
bench as (select shingle from sh where source = 'src0'),
train as (select doc_id, shingle from sh where source <> 'src0')
select train.doc_id as doc_id,
       cast(count(distinct train.shingle) as bigint) as n_shared_5grams
from train join bench on train.shingle = bench.shingle
group by train.doc_id
""",
)
def q_benchmark_contamination(spark, sf_dir):
    """Benchmark-contamination check: training docs (source != src0)
    sharing any 5-gram with the benchmark set (source = src0). The
    benchmark shingle set is small → broadcast semi-structure; at
    100 TB the benchmark side stays broadcastable while the training
    side streams through."""
    from .functions.text import shingles, tokens

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", F.explode(shingles(tokens("text"), 5)).alias("shingle")
    ).dropDuplicates(["doc_id", "source", "shingle"])
    bench = sh.filter(F.col("source") == "src0").select("shingle").distinct()
    train = sh.filter(F.col("source") != "src0")
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").cast("long").alias("n_shared_5grams"))
    )


@register(
    "corpus_token_stats",
    oracle=f"""
with tok as (select unnest({SQL_TOKS}) as token from documents)
select cast(count(*) as bigint) as total_tokens,
       cast(count(distinct token) as bigint) as unique_tokens,
       cast(count(distinct token) as double) / count(*) as type_token_ratio,
       (select cast(count(*) as bigint) from documents) as total_docs
from tok
""",
)
def q_corpus_token_stats(spark, sf_dir):
    """Whole-corpus token statistics (the sizing numbers every corpus
    pipeline reports): totals, vocabulary, type-token ratio."""
    docs = load_table(spark, sf_dir, "documents")
    from .functions.text import tokens

    tok = docs.select(F.explode(tokens("text")).alias("token"))
    # doc count rides along as a broadcast 1-row aggregate instead of a
    # driver-side .count() pre-action — the stats are ONE job.
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("total_docs"))
    return tok.agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.count_distinct("token").cast("long").alias("unique_tokens"),
        (F.count_distinct("token").cast("double") / F.count(F.lit(1))).alias(
            "type_token_ratio"
        ),
    ).crossJoin(F.broadcast(n_docs))


@register(
    "events_followup_pairs",
    oracle="""
select a.event_id as event_id_a, b.event_id as event_id_b
from events a
join events b
  on a.user_id = b.user_id
 and epoch_us(b.ts) >= epoch_us(a.ts)
 and epoch_us(b.ts) < epoch_us(a.ts) + 1800000000
 and a.event_id <> b.event_id
""",
    headline=True,
)
def q_events_followup_pairs(spark, sf_dir):
    """Range join: same-user event pairs within a 30-minute window,
    via time-bucketization (≤2 bucket copies per interval row, plain
    hash join on (key, bucket)) instead of a per-key cross product.
    The oracle is the naive range join — result equivalence proven."""
    from .operators.rangejoin import events_within_window_pairs

    return events_within_window_pairs(load_table(spark, sf_dir, "events"))


@register(
    "status_priority_grouping_sets",
    oracle="""
select coalesce(o_orderstatus, 'ALL') as status,
       coalesce(o_orderpriority, 'ALL') as priority,
       cast(count(*) as bigint) as n_orders
from orders
group by grouping sets ((o_orderstatus), (o_orderpriority), ())
""",
)
def q_status_priority_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (neither rollup nor cube): per-status,
    per-priority, and grand-total rows from one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
        )
    )


def _dup_edges(docs: DataFrame) -> DataFrame:
    """The exact∪near duplicate edge set (src, dst) over documents:
    blocked 3-gram Jaccard ≥ 0.2 pairs (operators/dedup.py:
    ngram_jaccard_pairs) plus, per md5(text) group, an edge from the
    lowest doc_id (the keeper) to every other member."""
    near = ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    w = Window.partitionBy("h")
    exact = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keeper"))
        .select(F.col("keeper").alias("src"), F.col("doc_id").alias("dst"))
    )
    return near.union(exact)


@register(
    "near_dup_components",
    headline=True,
    oracle=f"""
with recursive {SQL_JACCARD_CTES},
exact_pairs as (
  select keeper as a, doc_id as b from (
    select doc_id, min(doc_id) over (partition by md5(text)) as keeper
    from documents
  ) where doc_id <> keeper
),
e0 as (
  select da as a, db as b from jaccard_pairs where jaccard >= 0.2
  union
  select a, b from exact_pairs
),
e as (select a, b from e0 union select b as a, a as b from e0),
reach(node, r) as (
  select a, a from e
  union
  select e.b, reach.r from reach join e on e.a = reach.node
)
select cast(node as bigint) as doc_id, cast(min(r) as bigint) as component
from reach group by node
""",
)
def q_near_dup_components(spark, sf_dir):
    """Duplicate CLUSTERS from duplicate PAIRS: connected components
    (iterative min-label propagation, driver-checked fixpoint) over the
    union of exact-dup and blocked near-dup edges. The oracle is a
    recursive CTE — the same fixpoint computed declaratively."""
    from .operators.components import connected_components

    comp = connected_components(_dup_edges(load_table(spark, sf_dir, "documents")))
    return comp.select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@register(
    "session_window_stats",
    oracle="""
with flagged as (
  select user_id, event_id, ts,
         case when epoch_us(ts) - lag(epoch_us(ts)) over w is null
                or epoch_us(ts) - lag(epoch_us(ts)) over w > 1800000000
              then 1 else 0 end as new_session
  from events
  window w as (partition by user_id order by ts, event_id)
),
with_id as (
  select user_id, ts,
         sum(new_session) over (partition by user_id order by ts, event_id
             rows between unbounded preceding and current row) as session_id
  from flagged
)
select user_id,
       min(ts) as session_start,
       max(ts) + interval 30 minutes as session_end_padded,
       cast(count(*) as bigint) as n_events
from with_id
group by user_id, session_id
""",
)
def q_session_window_stats(spark, sf_dir):
    """Spark's NATIVE session_window (gap-merged event-time sessions,
    also valid in Structured Streaming with state) — proven equivalent
    to the manual islands sessionization, whose SQL is the oracle.
    session_window.end = last event + gap, hence 'padded'."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end_padded"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Additional TPC-H shapes (bench breadth) + full IVF search path
# ---------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    oracle="""
select cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_discount as decimal(12,2))) as double) as revenue,
       cast(count(*) as bigint) as n_lineitems
from lineitem
where l_shipdate >= timestamp '1996-01-01'
  and l_shipdate < timestamp '1997-01-01'
  and l_discount between 0.05 and 0.07
  and l_quantity < 24
""",
    headline=True,
)
def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: the pure scan-predicate-aggregate query — every
    predicate pushes to the parquet scan and the whole query is one
    codegen'd pass with no shuffle beyond the scalar merge."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("timestamp_ntz'1997-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
select l_orderkey,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as revenue,
       o_orderdate, o_orderpriority
from customer
join orders on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1997-03-15'
  and l_shipdate > timestamp '1997-03-15'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey
limit 10
""",
    headline=True,
)
def q_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective filters pushed into all three scans →
    shuffle joins (both sides scale with SF, so no broadcast hints —
    AQE may still broadcast at small SF) → aggregate → top-10
    (TakeOrderedAndProject)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("timestamp_ntz'1997-03-15 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("timestamp_ntz'1997-03-15 00:00:00'")
    )
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        li.join(orders.join(customer, orders["o_custkey"] == customer["c_custkey"]),
                li["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
select n_name,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from customer
join orders on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
where r_name = 'ASIA'
  and o_orderdate >= timestamp '1996-01-01'
  and o_orderdate < timestamp '1998-01-01'
group by n_name
""",
    headline=True,
)
def q_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join. Broadcast hints only on nation (25
    rows) and region (filtered to 1 row) — orders/customer/supplier all
    scale with SF and are left to AQE. The customer-nation =
    supplier-nation constraint rides the join, not a post-filter."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp_ntz'1998-01-01 00:00:00'"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(
            supplier,
            (li["l_suppkey"] == supplier["s_suppkey"])
            & (customer["c_nationkey"] == supplier["s_nationkey"]),
        )
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
    )


@register(
    "ivf_search_vec0",
    oracle="""
with c as (select vec_id as centroid_id,
                  list_transform(embedding, x -> cast(x as double)) as ce
           from embeddings where vec_id < 8),
assign as (
  select e.vec_id, c.centroid_id,
         round(sqrt(list_sum(list_transform(
             list_zip(list_transform(e.embedding, x -> cast(x as double)), c.ce),
             p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) as dist
  from embeddings e, c
  qualify row_number() over (partition by e.vec_id order by dist, centroid_id) = 1
),
qprobe as (
  select c.centroid_id,
         round(sqrt(list_sum(list_transform(
             list_zip(list_transform(q.embedding, x -> cast(x as double)), c.ce),
             p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) as qdist
  from embeddings q, c
  where q.vec_id = 0
  qualify row_number() over (order by qdist, centroid_id) <= 2
),
cand as (
  select a.vec_id from assign a join qprobe p on a.centroid_id = p.centroid_id
  where a.vec_id <> 0
),
q as (select embedding as qe from embeddings where vec_id = 0),
s as (
  select e.vec_id, e.label,
         list_dot_product(list_transform(e.embedding, x -> cast(x as double)),
                          list_transform(q.qe, x -> cast(x as double))) as dp,
         list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))) as na,
         list_sum(list_transform(q.qe, x -> cast(x as double) * cast(x as double))) as nb
  from embeddings e join cand on e.vec_id = cand.vec_id, q
)
select vec_id, label, round(dp / sqrt(na * nb), 6) as cos_sim
from s order by cos_sim desc, vec_id limit 10
""",
)
def q_ivf_search_vec0(spark, sf_dir):
    """Full IVF-ANN search: assign corpus to centroids, probe the
    query's 2 nearest centroid buckets, exact cosine top-10 within the
    candidates only — the sub-linear search path, fully deterministic,
    oracle-checked end-to-end (nprobe=2 of 8 buckets → ~4× less work
    than brute force; recall measured against knn_cosine_vec0)."""
    from .operators.similarity import cosine_topk, ivf_assign, ivf_probe

    emb = load_table(spark, sf_dir, "embeddings")
    assign = ivf_assign(emb, n_centroids=8)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    cand = (
        assign.join(F.broadcast(ivf_probe(qvec, cents)), "centroid_id")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    return cosine_topk(emb.join(cand, "vec_id"), qvec, 10)


@register(
    "doc_string_features",
    oracle="""
select doc_id,
       string_split(text, ' ')[1] as first_token,
       cast((length(text) - length(replace(text, 'data', ''))) / 4 as bigint) as n_occ_data,
       position('spark' in text) > 0 as has_spark,
       upper(substr(text, 1, 10)) as head_upper
from documents
""",
)
def q_doc_string_features(spark, sf_dir):
    """String-function surface: substring/replace/position/case
    transforms expressed portably (no regex dialect dependence)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.split(text, " ").getItem(0).alias("first_token"),
        ((F.length(text) - F.length(F.replace(text, F.lit("data"), F.lit("")))) / 4)
        .cast("long")
        .alias("n_occ_data"),
        (F.instr(text, "spark") > 0).alias("has_spark"),
        F.upper(F.substring(text, 1, 10)).alias("head_upper"),
    )


@register(
    "q4_late_order_priority",
    oracle="""
select o_orderpriority, cast(count(*) as bigint) as n_orders
from orders o
where exists (
  select 1 from lineitem l
  where l.l_orderkey = o.o_orderkey
    and l.l_shipdate > o.o_orderdate + interval 60 days)
group by o_orderpriority
""",
)
def q_q4_late_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI join with a
    cross-side inequality (orders with any lineitem shipped >60 days
    after the order date). The semi join short-circuits per key —
    no fact-side duplication, no distinct needed."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == orders["o_orderkey"]) & (
        li["l_shipdate"] > F.expr("o_orderdate + interval 60 days")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


@register(
    "order_window_analytics",
    oracle="""
select o_orderkey, o_custkey,
       cast(row_number() over w as bigint) as seq,
       cast(rank() over (partition by o_custkey order by o_orderstatus) as bigint) as status_rank,
       cast(dense_rank() over (partition by o_custkey order by o_orderstatus) as bigint) as status_dense_rank,
       cast(ntile(4) over w as bigint) as quartile,
       cume_dist() over w as cume,
       lag(o_orderkey) over w as prev_orderkey,
       lead(o_orderkey) over w as next_orderkey,
       first_value(o_orderkey) over w as first_orderkey,
       cast(sum(cast(o_totalprice as decimal(14,2))) over (
            partition by o_custkey order by o_orderdate, o_orderkey
            rows between unbounded preceding and current row) as double) as running_revenue
from orders
window w as (partition by o_custkey order by o_orderdate, o_orderkey)
""",
)
def q_order_window_analytics(spark, sf_dir):
    """Window-function breadth in one pass: ranking (row_number, rank,
    dense_rank, ntile, cume_dist), navigation (lag, lead, first_value)
    and a decimal-exact running sum — all sharing ONE window partition
    spec, so Catalyst plans a single sort+Window over one exchange.

    Hash-stability invariant (pinned by
    tests/test_analytics.py::test_order_window_total_order_invariant):
    (o_orderdate, o_orderkey) is a TOTAL order (o_orderkey unique), so
    the order-sensitive functions are deterministic; the o_orderstatus
    window uses only tie-invariant functions (rank/dense_rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_status = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("seq"),
        F.rank().over(w_status).cast("long").alias("status_rank"),
        F.dense_rank().over(w_status).cast("long").alias("status_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .over(w_run)
        .cast("double")
        .alias("running_revenue"),
    )


@register(
    "order_date_math",
    oracle="""
select o_orderkey,
       cast(extract(year from o_orderdate) as bigint) as order_year,
       cast(extract(month from o_orderdate) as bigint) as order_month,
       cast(extract(day from o_orderdate) as bigint) as order_day,
       cast(extract(quarter from o_orderdate) as bigint) as order_quarter,
       o_orderdate + interval 90 days as due_date,
       cast(last_day(o_orderdate) as timestamp) as month_end,
       cast(date_diff('day', o_orderdate, timestamp '2000-01-01') as bigint) as days_to_y2k
from orders
""",
)
def q_order_date_math(spark, sf_dir):
    """Date/time scalar-function surface (extract, interval
    arithmetic, last_day, day difference) — an explicit absence in the
    reference (SURVEY.md §2.8), standard in any analytics engine."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("order_year"),
        F.month(d).cast("long").alias("order_month"),
        F.dayofmonth(d).cast("long").alias("order_day"),
        F.quarter(d).cast("long").alias("order_quarter"),
        F.expr("o_orderdate + interval 90 days").alias("due_date"),
        F.last_day(d).cast("timestamp_ntz").alias("month_end"),
        F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date"))
        .cast("long")
        .alias("days_to_y2k"),
    )


@register(
    "merge_upsert_events",
    headline=True,
    oracle="""
with t as (select event_id, value from events),
u as (
  select event_id, value * 2 as value from events where event_type = 'purchase'
  union all
  select event_id + 10000000, 1.0 from events where event_type = 'purchase'
)
select coalesce(u.event_id, t.event_id) as event_id,
       case when u.event_id is not null then u.value else t.value end as value
from t full outer join u on t.event_id = u.event_id
""",
)
def q_merge_upsert_events(spark, sf_dir):
    """CDC MERGE/upsert: purchases double their value (matched →
    update), shifted ids insert as new rows; everything else is kept.
    One full-outer join — the Delta MERGE plan shape on plain frames.
    (×2 on a 2-dp double is exact: power-of-two multiply.)"""
    from .operators.merge import merge_upsert

    ev = load_table(spark, sf_dir, "events")
    target = ev.select("event_id", "value")
    purchases = ev.filter(F.col("event_type") == "purchase")
    updates = purchases.select("event_id", (F.col("value") * 2).alias("value")).union(
        purchases.select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            F.lit(1.0).alias("value"),
        )
    )
    return merge_upsert(target, updates, "event_id")


@register(
    "bigram_lm_scores",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 1)) as i from t),
bg as (select doc_id, array_to_string(toks[i:i+1], ' ') as bigram, toks[i] as w1 from g),
c2 as (select bigram, count(*) as n2 from bg group by bigram),
c1 as (select w1, count(*) as n1 from bg group by w1),
v as (select cast(count(distinct w) as double) as vocab
      from (select unnest(toks) as w from t))
select bg.doc_id,
       cast(count(*) as bigint) as n_bigrams,
       round(sum(ln((cast(n2 as double) + 1.0) / (cast(n1 as double) + v.vocab)))
             / count(*), 6) as lm_score
from bg join c2 using (bigram) join c1 using (w1), v
group by bg.doc_id
""",
)
def q_bigram_lm_scores(spark, sf_dir):
    """LM-based corpus quality filter: per-doc mean Laplace-smoothed
    bigram log-probability under corpus-trained counts."""
    from .operators.textops import bigram_lm_score

    return bigram_lm_score(load_table(spark, sf_dir, "documents"))


@register(
    "cheapest_part_per_brand",
    oracle="""
select p_partkey, p_name, p_brand, p_retailprice
from part p
where p_retailprice = (
  select min(p2.p_retailprice) from part p2 where p2.p_brand = p.p_brand)
""",
)
def q_cheapest_part_per_brand(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q2 shape): rows matching their
    group's minimum. Spark decorrelates this into the window-min +
    filter written here — same plan the optimizer would produce from
    the subquery form, expressed directly."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("__min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("__min_price"))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


@register(
    "q10_returned_items",
    oracle="""
select c_custkey, c_name,
       cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as revenue,
       cast(c_acctbal as double) as c_acctbal, n_name
from customer
join orders on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
join nation on c_nationkey = n_nationkey
where l_returnflag = 'R'
  and o_orderdate >= timestamp '1996-01-01'
  and o_orderdate < timestamp '1996-04-01'
group by c_custkey, c_name, c_acctbal, n_name
order by revenue desc, c_custkey
limit 20
""",
)
def q_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Date predicate pushes into the orders scan, returnflag into
    lineitem; broadcast hint ONLY on nation (25 rows) — the
    customer/orders/lineitem joins are AQE-decided."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp_ntz'1996-04-01 00:00:00'"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    oracle="""
select round(
  100.0 * cast(sum(case when p_type = 'PROMO'
        then cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))
        else cast(0 as decimal(12,2)) end) as double)
  / cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double),
  6) as promo_revenue_pct
from lineitem join part on l_partkey = p_partkey
where l_shipdate >= timestamp '1996-01-01'
  and l_shipdate < timestamp '1996-02-01'
""",
)
def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share for one month — conditional
    aggregation over a fact⋈dim join. Both sums are decimal-exact; only
    the final ratio is a double (round 6 → engine-identical). The
    shipdate range pushes into the lineitem scan; part is AQE-decided
    (it scales with SF)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp_ntz'1996-02-01 00:00:00'"))
    )
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    rev = dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(12,2)"))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
select c_custkey, c_name, o_orderkey, o_orderdate,
       cast(o_totalprice as double) as o_totalprice,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty
from customer
join orders on c_custkey = o_custkey
join lineitem on o_orderkey = l_orderkey
where o_orderkey in (
  select l_orderkey from lineitem group by l_orderkey
  having sum(cast(l_quantity as decimal(12,2))) > 260)
group by c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
order by o_totalprice desc, o_orderkey
limit 100
""",
)
def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: customers with very large orders (HAVING
    subquery → aggregate + semi join). The quantity pre-aggregate is
    tiny (one row per qualifying order) and is broadcast-semi-joined
    into lineitem; at scale AQE picks the strategy."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    decq = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(decq).alias("__sq"))
        .filter(F.col("__sq") > 260)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(decq).cast("double").alias("sum_qty"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"), "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    oracle="""
select cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from lineitem join part on p_partkey = l_partkey
where (p_brand = 'Brand#1' and p_size between 1 and 15 and l_quantity between 1 and 20)
   or (p_brand = 'Brand#3' and p_size between 10 and 30 and l_quantity between 10 and 30)
   or (p_brand = 'Brand#5' and p_size between 20 and 50 and l_quantity between 20 and 40)
""",
)
def q_q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-clause predicate over a
    fact⋈dim join. Catalyst extracts the common join key and pushes
    the per-side conjuncts (p_brand/p_size to part, l_quantity to
    lineitem) below the join as partial filters."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    rev = dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    clause = lambda brand, s_lo, s_hi, q_lo, q_hi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return j.filter(
        clause("Brand#1", 1, 15, 1, 20)
        | clause("Brand#3", 10, 30, 10, 30)
        | clause("Brand#5", 20, 50, 20, 40)
    ).agg(F.sum(rev).cast("double").alias("revenue"))


@register(
    "cosine_nn_per_vector",
    oracle="""
with p as (
  select a.vec_id, b.vec_id as nn,
         round(
           list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                            list_transform(b.embedding, x -> cast(x as double)))
           / sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double)))
                * list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double)))),
           6) as cs
  from embeddings a
  join embeddings b on a.label = b.label and a.vec_id <> b.vec_id
)
select vec_id, cast(nn as bigint) as nn_vec_id, cs as cos_sim
from p
qualify row_number() over (partition by vec_id order by cs desc, nn asc) = 1
""",
)
def q_cosine_nn_per_vector(spark, sf_dir):
    """Embedding near-dup building block: exact cosine nearest
    neighbour per vector within its label block (kNN-graph edge set —
    threshold downstream for near-dup pairs). Blocked self-join +
    struct-max argmax; the pair stream partially aggregates inside the
    join stage, so only one row per vector reaches the exchange."""
    from .operators.similarity import cosine_nn_within_label

    return cosine_nn_within_label(load_table(spark, sf_dir, "embeddings"))


@register(
    "events_sliding_counts",
    oracle="""
select ws as window_start,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from (
  select e.value,
         unnest(generate_series(
           time_bucket(interval '15 minutes', ts) - interval '45 minutes',
           time_bucket(interval '15 minutes', ts),
           interval '15 minutes')) as ws
  from events e
) t
group by ws
""",
)
def q_events_sliding_counts(spark, sf_dir):
    """Sliding-window aggregate (1-hour windows every 15 minutes):
    each event lands in 4 overlapping windows. Spark's window() emits
    the per-event window copies BEFORE the partial aggregate, so the
    shuffle still carries one row per (window, partition) — the oracle
    mirrors the expansion with generate_series."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "user_rolling_hour_stats",
    oracle="""
select event_id, user_id,
       cast(count(*) over w as bigint) as n_last_hour,
       cast(sum(cast(value as decimal(12,2))) over w as double) as sum_last_hour
from events
window w as (partition by user_id order by epoch_us(ts)
             range between 3600000000 preceding and current row)
""",
)
def q_user_rolling_hour_stats(spark, sf_dir):
    """Trailing-hour count + exact decimal sum per event. Round 6
    rewrite: instead of one sliding RANGE frame (moving lower bound →
    Spark re-aggregates the frame per row, the x16.5-at-x30 scaler in
    the r5 relscale table), the rolling stats are the difference of
    two ADD-ONLY prefix frames — O(rows) regardless of event density,
    same single shuffle on user_id, bit-identical results (decimal
    prefixes make the difference exact). Oracle unchanged — it still
    states the plain RANGE window."""
    from .operators.timeseries import rolling_interval_exact

    ev = load_table(spark, sf_dir, "events")
    return rolling_interval_exact(ev).select(
        "event_id",
        "user_id",
        F.col("__n_trail").cast("long").alias("n_last_hour"),
        F.col("__sum_trail").cast("double").alias("sum_last_hour"),
    )


@register(
    "streaming_sliding_counts",
    oracle="""
select ws as window_start,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from (
  select e.value,
         unnest(generate_series(
           time_bucket(interval '15 minutes', ts) - interval '45 minutes',
           time_bucket(interval '15 minutes', ts),
           interval '15 minutes')) as ws
  from events e
) t
group by ws
""",
)
def q_streaming_sliding_counts(spark, sf_dir):
    """Structured Streaming SLIDING-window aggregate (1 h windows every
    15 min, availableNow, complete mode → memory sink). Produces
    exactly the batch events_sliding_counts result — same oracle."""
    from .streaming.events_stream import run_streaming_sliding

    return run_streaming_sliding(spark, sf_dir)


@register(
    "q7_volume_shipping",
    oracle="""
select supp_nation, cust_nation, l_year,
       cast(sum(rev) as double) as revenue
from (
  select n1.n_name as supp_nation, n2.n_name as cust_nation,
         cast(extract(year from l_shipdate) as bigint) as l_year,
         cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2)) as rev
  from lineitem
  join supplier on s_suppkey = l_suppkey
  join orders on o_orderkey = l_orderkey
  join customer on c_custkey = o_custkey
  join nation n1 on s_nationkey = n1.n_nationkey
  join nation n2 on c_nationkey = n2.n_nationkey
  where ((n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
      or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1'))
    and l_shipdate >= timestamp '1996-01-01' and l_shipdate < timestamp '1999-01-01'
) t
group by supp_nation, cust_nation, l_year
""",
)
def q_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year. Five joins; nation appears TWICE (supplier side + customer
    side) — both broadcast-hinted (25 rows each, fixed cardinality);
    the fact⋈fact joins are AQE-decided. The disjunctive nation-pair
    predicate can only be applied after both nation joins; Catalyst
    still pushes the IN-list half of it into each broadcast side."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp_ntz'1999-01-01 00:00:00'"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("__n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("__n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(12,2)")
    return (
        li.join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q12_linestatus_priority",
    oracle="""
select l_linestatus,
       cast(sum(case when o_orderpriority in ('1-URGENT','2-HIGH') then 1 else 0 end) as bigint) as high_line_count,
       cast(sum(case when o_orderpriority in ('1-URGENT','2-HIGH') then 0 else 1 end) as bigint) as low_line_count
from orders join lineitem on o_orderkey = l_orderkey
where l_shipdate >= timestamp '1996-01-01' and l_shipdate < timestamp '1997-01-01'
group by l_linestatus
""",
)
def q_q12_linestatus_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipmode → linestatus; the driver schema has no
    l_shipmode): urgent-vs-other order counts per line status for one
    ship year. Conditional counting via sum(case) — a single join +
    one aggregation; the shipdate range pushes into the lineitem
    scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp_ntz'1997-01-01 00:00:00'"))
    )
    orders = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q13_order_count_distribution",
    oracle="""
select c_count, cast(count(*) as bigint) as custdist
from (
  select c_custkey, cast(count(o_orderkey) as bigint) as c_count
  from customer left join orders
    on c_custkey = o_custkey and o_orderpriority <> '5-LOW'
  group by c_custkey
) t
group by c_count
""",
)
def q_q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts —
    LEFT OUTER join with an extra join-condition filter (priority <>
    '5-LOW' must live IN the join condition, not a WHERE, to keep
    order-less customers at count 0), then a double aggregation.
    count(o_orderkey) counts non-nulls, so unmatched customers land in
    the c_count=0 bucket in both engines."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = customer.join(
        orders,
        (customer["c_custkey"] == orders["o_custkey"])
        & (orders["o_orderpriority"] != "5-LOW"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
with t as (
  select sum(cast(c_acctbal as decimal(14,2))) as s, count(*) as n
  from customer where c_acctbal > 0.0
)
select c_mktsegment,
       cast(count(*) as bigint) as numcust,
       cast(sum(cast(c_acctbal as decimal(14,2))) as double) as totacctbal
from customer, t
where cast(c_acctbal as decimal(14,2)) * n > s
  and not exists (select 1 from orders
                  where o_custkey = c_custkey and o_orderpriority = '1-URGENT')
group by c_mktsegment
""",
)
def q_q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape (country-code → mktsegment): customers with
    above-average positive balance and no URGENT orders. The global
    average is a 1-row aggregate cross-joined in (broadcast — never a
    driver collect), and the comparison is cross-multiplied
    (bal·n > Σbal) so it stays in EXACT decimal arithmetic — no
    engine-dependent float division on the filter boundary. The
    "has no urgent orders" test is a left-anti join on the
    pre-filtered orders side (filter pushes below the join)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    bal = F.col("c_acctbal").cast("decimal(14,2)")
    stats = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal).alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return (
        customer.crossJoin(F.broadcast(stats))
        .filter(bal * F.col("__n") > F.col("__s"))
        .join(orders, customer["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


@register(
    "embedding_top_pairs",
    oracle="""
select a.vec_id as vec_a, b.vec_id as vec_b, a.label,
       round(
         list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                          list_transform(b.embedding, x -> cast(x as double)))
         / sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double)))
              * list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double)))),
         6) as cos_sim
from embeddings a
join embeddings b on a.label = b.label and a.vec_id < b.vec_id
order by cos_sim desc, vec_a, vec_b
limit 20
""",
)
def q_embedding_top_pairs(spark, sf_dir):
    """Global top-20 most-similar embedding pairs within label blocks —
    the "surface the worst near-dup suspects" report. Blocked
    self-join (never all-pairs) + TakeOrderedAndProject: each task
    keeps a 20-row heap, only those reach the driver-side merge — no
    global sort. Tiebreak (cos desc, vec_a, vec_b) is total."""
    from .functions.vectors import cosine_fixed, embedding_dim

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    a = emb.select(
        F.col("label").alias("label"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("__ea"),
    )
    b = emb.select(
        F.col("label").alias("__lbl_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("__eb"),
    )
    return (
        a.join(b, (F.col("label") == F.col("__lbl_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a",
            "vec_b",
            "label",
            # fixed-width unrolled cosine (codegen, bit-identical to
            # the HOF fold — optimization r14)
            F.round(cosine_fixed("__ea", "__eb", dim), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(20)
    )


@register(
    "streaming_dedup_events",
    oracle="""
select distinct user_id, event_type from events
""",
)
def q_streaming_dedup_events(spark, sf_dir):
    """Structured Streaming dropDuplicates on (user_id, event_type)
    (APPEND mode, availableNow, memory sink): each key's first-seen row
    passes, the rest hit the dedup state store. Projecting only the
    key columns makes the result deterministic — exactly DISTINCT on
    the batch table."""
    from .streaming.events_stream import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


@register(
    "lineitem_moment_stats",
    oracle="""
with m as (
  select l_returnflag,
         cast(count(*) as double) as n,
         cast(sum(cast(l_quantity as decimal(12,2))) as double) as sx,
         cast(sum(cast(l_quantity as decimal(12,2)) * cast(l_quantity as decimal(12,2))) as double) as sxx,
         cast(sum(cast(l_extendedprice as decimal(12,2))) as double) as sy,
         cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) as double) as syy,
         cast(sum(cast(l_quantity as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) as double) as sxy
  from lineitem group by l_returnflag
)
select l_returnflag,
       cast(n as bigint) as n_rows,
       round((n * sxx - sx * sx) / (n * (n - 1)), 9) as var_qty,
       round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 9) as std_qty,
       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) as corr_qty_price
from m
""",
)
def q_lineitem_moment_stats(spark, sf_dir):
    """Distributed second-moment statistics (variance / stddev /
    correlation) per return flag — computed from EXACT decimal power
    sums, not the engines' native var/corr aggregates. Native streaming
    (co)moment aggregates accumulate doubles in partition order, so
    their low bits are engine- and plan-dependent; decimal Σx, Σx²,
    Σxy are exact under any aggregation order, and the final var/corr
    formula is one fixed double expression tree. Even so, compilers may
    fuse multiply-adds in the product-difference terms (observed: DuckDB
    differs from the JVM by 1 ulp on corr), so the outputs are rounded
    to 9 dp on both sides. One shuffle (the groupBy); everything
    JVM-side."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    var_x = (n * sxx - sx * sx) / (n * (n - F.lit(1)))
    var_y_num = n * syy - sy * sy
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(var_x, 9).alias("var_qty"),
        F.round(F.sqrt(var_x), 9).alias("std_qty"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * var_y_num), 9
        ).alias("corr_qty_price"),
    )


@register(
    "q15_top_supplier",
    oracle="""
with rev as (
  select l_suppkey as supplier_no,
         cast(sum(cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))) as double) as total_revenue
  from lineitem
  where l_shipdate >= timestamp '1996-01-01' and l_shipdate < timestamp '1996-04-01'
  group by l_suppkey
)
select s_suppkey, s_name, total_revenue
from supplier join rev on s_suppkey = supplier_no
where total_revenue = (select max(total_revenue) from rev)
""",
)
def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue.
    The scalar max is a 1-row aggregate broadcast back onto the revenue
    frame (never a driver collect); the double equality is safe because
    both sides of it come from the SAME exact-decimal sum cast once to
    double. Ties (multiple suppliers at the max) are all returned, as
    in the spec."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp_ntz'1996-04-01 00:00:00'"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(supplier, F.col("supplier_no") == supplier["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_brand_supplier_counts",
    oracle="""
select p_brand, p_size,
       cast(count(distinct l_suppkey) as bigint) as supplier_cnt
from lineitem
join part on p_partkey = l_partkey
where l_suppkey not in (select s_suppkey from supplier where s_acctbal < 1000.0)
group by p_brand, p_size
""",
)
def q_q16_brand_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (partsupp → lineitem supply facts): distinct
    supplier count per (brand, size), excluding a supplier denylist
    (low-balance stand-in for the spec's complaint suppliers). The
    denylist anti join carries no broadcast hint: supplier scales
    linearly with SF, so AQE broadcasts it while small and shuffles at
    scale. The distinct count shuffles once on the group key with
    partial distinct aggregation map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000.0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q17_small_order_revenue",
    oracle="""
with pavg as (
  select l_partkey as pk,
         cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*) as avg_qty
  from lineitem group by l_partkey
)
select cast(cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / 7.0 as double) as avg_yearly
from lineitem join pavg on l_partkey = pk
where l_quantity < 0.2 * avg_qty
""",
)
def q_q17_small_order_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue locked in small orders — lines whose
    quantity is below 20% of their part's average. The correlated
    scalar subquery becomes a per-part aggregate joined back to the
    fact (one shuffle each side, co-partitioned on l_partkey, so AQE
    plans a shuffle hash join with no extra exchange). avg_qty is
    exact-sum/count so the 0.2·avg boundary is the same double in both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(pavg, li["l_partkey"] == pavg["pk"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "heavy_hitter_customers",
    oracle="""
with spend as (
  select o_custkey, sum(cast(o_totalprice as decimal(14,2))) as cust_spend
  from orders group by o_custkey
), tot as (
  select sum(cust_spend) as total_spend, count(*) as n_cust from spend
)
select o_custkey as custkey,
       cast(cust_spend as double) as spend
from spend, tot
where cust_spend * n_cust > 2 * total_spend
""",
)
def q_heavy_hitter_customers(spark, sf_dir):
    """TPC-H Q11 shape: heavy hitters — customers spending more than
    2× the average customer. The global (total, count) is a 1-row
    aggregate broadcast onto the per-customer frame, and the threshold
    test is cross-multiplied (spend·n > 2·total) so it stays in EXACT
    decimal/integer arithmetic — no float division at the filter
    boundary, and the 2×-average criterion is scale-invariant (a fixed
    fraction-of-total empties out as customer count grows). At 100 TB
    this is the canonical 'fraction-of-total HAVING' plan: two
    aggregations, one broadcast, zero driver actions."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("cust_spend")
    )
    tot = spend.agg(
        F.sum("cust_spend").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    return (
        spend.crossJoin(F.broadcast(tot))
        .filter(F.col("cust_spend") * F.col("__n") > 2 * F.col("__total"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("cust_spend").cast("double").alias("spend"),
        )
    )


@register(
    "deterministic_split",
    oracle="""
with tagged as (
  select *,
         case when substr(md5(cast(doc_id as varchar)), 1, 1) between '0' and 'b' then 'train'
              when substr(md5(cast(doc_id as varchar)), 1, 1) between 'c' and 'd' then 'val'
              else 'test' end as split
  from documents
)
select split,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as total_chars,
       cast(count(distinct lang) as bigint) as n_langs
from tagged group by split
""",
)
def q_deterministic_split(spark, sf_dir):
    """Deterministic train/val/test split — the training-pipeline
    primitive that must give the SAME assignment on every engine, every
    run, at any parallelism. Each doc hashes by md5(doc_id); the first
    hex nibble buckets 12/2/2 → 75/12.5/12.5%. Content-hash splitting
    is embarrassingly parallel (no shuffle for the assignment itself;
    one shuffle for the per-split stats) and stable under re-runs and
    repartitioning, unlike rand()-based splits."""
    docs = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.between("c", "d"), "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
        )
    )


@register(
    "stratified_sample_docs",
    oracle="""
select doc_id, lang, source, n_chars
from documents
where substr(md5(cast(doc_id as varchar)), 1, 1) between '0' and '3'
""",
)
def q_stratified_sample_docs(spark, sf_dir):
    """Deterministic ~25% corpus sample (hash-threshold on md5 first
    nibble ∈ {0..3}). Because the predicate is per-row on a content
    hash, the sample is reproducible across engines and cluster sizes
    — the property rand()-sampling lacks — and composes with
    stratification (the hash is uniform within every lang stratum, so
    each stratum is sampled at the same rate). Zero shuffles: a pure
    filter over the scan."""
    docs = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    return docs.filter(nib.between("0", "3")).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "doc_length_buckets",
    oracle="""
with q as (
  select quantile_cont(n_chars, 0.25) as q1,
         quantile_cont(n_chars, 0.50) as q2,
         quantile_cont(n_chars, 0.75) as q3
  from documents
)
select case when n_chars <= q1 then 'p00_25'
            when n_chars <= q2 then 'p25_50'
            when n_chars <= q3 then 'p50_75'
            else 'p75_100' end as bucket,
       cast(count(*) as bigint) as n_docs,
       cast(min(n_chars) as bigint) as min_chars,
       cast(max(n_chars) as bigint) as max_chars
from documents, q
group by 1
""",
)
def q_doc_length_buckets(spark, sf_dir):
    """Quantile length-bucketing — assign every document to a global
    length quartile (the curriculum/packing primitive). The three
    quartile boundaries are ONE 1-row percentile aggregate broadcast
    onto the corpus (Spark `percentile` is bit-identical to DuckDB
    `quantile_cont`, both linear-interpolating); bucketing is then a
    per-row case expression. Two aggregations + one broadcast, no
    driver action."""
    docs = load_table(spark, sf_dir, "documents")
    q = docs.agg(
        F.expr("percentile(n_chars, 0.25)").alias("q1"),
        F.expr("percentile(n_chars, 0.50)").alias("q2"),
        F.expr("percentile(n_chars, 0.75)").alias("q3"),
    )
    nc = F.col("n_chars")
    bucket = (
        F.when(nc <= F.col("q1"), "p00_25")
        .when(nc <= F.col("q2"), "p25_50")
        .when(nc <= F.col("q3"), "p50_75")
        .otherwise("p75_100")
    )
    return (
        docs.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


@register(
    "stopword_scrub_stats",
    oracle="""
select doc_id,
       cast(len(regexp_extract_all(text, '\\b(the|a|data|spark)\\b')) as bigint) as n_hits,
       cast(length(regexp_replace(text, '\\b(the|a|data|spark)\\b', '<tok>', 'g')) as bigint) as scrubbed_len
from documents
""",
)
def q_stopword_scrub_stats(spark, sf_dir):
    """Regex token scrubbing — the PII-redaction shape (here aimed at
    stopword tokens, since the synthetic corpus has no emails/URLs):
    per document, count pattern hits and measure the text length after
    replacing every hit with a `<tok>` sentinel. Pure per-row JVM
    regexp (whole-stage codegen, zero shuffles). The pattern sticks to
    the `\\b`+alternation subset that Java regex and RE2 interpret
    identically; DuckDB needs the 'g' flag to match Spark's
    replace-all semantics."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"\b(the|a|data|spark)\b"
    # Spark SQL string literals process backslash escapes ('\b' would be
    # a backspace char), so the expr form needs the backslashes doubled;
    # the Column-API regexp_replace takes the pattern verbatim.
    pat_sql = pat.replace("\\", "\\\\")
    return docs.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{pat_sql}', 0)"))
        .cast("long")
        .alias("n_hits"),
        F.length(F.regexp_replace("text", pat, "<tok>")).cast("long").alias(
            "scrubbed_len"
        ),
    )


@register(
    "corpus_mix_weighted",
    oracle="""
with w as (
  select *, (cast(substr(source, 4) as integer) % 3) + 1 as weight
  from documents
)
select source,
       cast(max(weight) as bigint) as weight,
       cast(count(*) * max(weight) as bigint) as n_rows_out,
       cast(sum(n_chars) * max(weight) as bigint) as chars_out
from w group by source
""",
)
def q_corpus_mix_weighted(spark, sf_dir):
    """Weighted corpus mixing — upsample each source by an integer
    epoch weight (the data-mixture primitive: 'see web 1×, books 3×').
    The Spark side REALLY replicates rows via explode(sequence(1, w))
    — a narrow, shuffle-free row multiplier that scales to 100 TB
    because no data moves, each task expands its own rows — then
    aggregates the mixed corpus per source. The oracle computes the
    same totals arithmetically (count·w), pinning the replication
    factor exactly."""
    docs = load_table(spark, sf_dir, "documents")
    w = (F.substring("source", 4, 10).cast("int") % 3) + 1
    mixed = docs.withColumn("weight", w).withColumn(
        "__copy", F.explode(F.sequence(F.lit(1), F.col("weight")))
    )
    return mixed.groupBy("source").agg(
        F.max("weight").cast("long").alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_rows_out"),
        F.sum("n_chars").cast("long").alias("chars_out"),
    )


@register(
    "q8_market_share",
    oracle="""
select o_year,
       cast(sum(case when nation = 'NATION_3' then rev else cast(0.00 as decimal(12,2)) end) as double)
         / cast(sum(rev) as double) as mkt_share
from (
  select cast(extract(year from o_orderdate) as bigint) as o_year,
         cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2)) as rev,
         n_name as nation
  from lineitem
  join orders on l_orderkey = o_orderkey
  join supplier on l_suppkey = s_suppkey
  join nation on s_nationkey = n_nationkey
) t
group by o_year
""",
)
def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of supply revenue per order
    year. The share is a ratio of two EXACT decimal sums (conditional
    numerator via sum(case)), each cast once to double, then ONE
    division — deterministic across engines and aggregation orders.
    Supplier and nation joins are broadcast-size-decided (nation
    hinted: fixed 25 rows); the fact⋈fact join is left to AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(12,2)")
    zero = F.lit("0.00").cast("decimal(12,2)")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev.alias("rev"),
            F.col("n_name").alias("nation"),
        )
    )
    return joined.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_3", F.col("rev")).otherwise(zero))
            .cast("double")
            / F.sum("rev").cast("double")
        ).alias("mkt_share")
    )


@register(
    "seq_packing",
    oracle="""
with ordered as (
  select doc_id, lang, n_chars,
         coalesce(sum(n_chars) over (
           partition by lang order by doc_id
           rows between unbounded preceding and 1 preceding), 0) as chars_before
  from documents
)
select lang,
       cast(floor(chars_before / 4096.0) as bigint) as pack_id,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as pack_chars,
       cast(min(doc_id) as bigint) as first_doc
from ordered
group by lang, pack_id
""",
)
def q_seq_packing(spark, sf_dir):
    """Sequence packing — assign documents to fixed-budget training
    packs (4096 chars standing in for a token budget) by the running
    total of everything packed before them, per language stream. The
    pack id is integer floor-division of an EXACT integer prefix sum
    (rows-frame window over a total order), so assignment is
    deterministic and engine-portable. Round 8: the per-language
    prefix sum runs through operators/ranks.py:grouped_prefix_sum —
    range-partition on (lang, doc_id), per-(partition, lang) running
    sums, per-cell offsets cumulated along each language's contiguous
    partition run — so the dominant language no longer serializes its
    whole stream into one window task (equivalence across widths
    pinned by tests/test_ranks.py). This is the standard 'greedy fill'
    approximation — a doc can straddle a boundary, which real packers
    split; assignment-by-prefix-sum is the distributed-friendly
    core."""
    docs = load_table(spark, sf_dir, "documents")
    from .operators.ranks import grouped_prefix_sum

    ordered = grouped_prefix_sum(
        docs.select("doc_id", "lang", "n_chars"),
        "lang",
        "doc_id",
        "n_chars",
        out_col="chars_before",
    )
    return (
        # explicit floor on both sides: DuckDB's double→bigint cast
        # rounds-half-away while Spark's truncates
        ordered.withColumn(
            "pack_id", F.floor(F.col("chars_before") / F.lit(4096.0)).cast("long")
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("pack_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
    )


@register(
    "lang_cap_resample",
    oracle="""
select doc_id, lang, n_chars
from (
  select doc_id, lang, n_chars,
         row_number() over (partition by lang
                            order by n_chars desc, doc_id) as rn
  from documents
)
where rn <= 20
""",
)
def q_lang_cap_resample(spark, sf_dir):
    """Per-stratum cap — keep at most 20 documents per language,
    preferring the longest (the 'downsample the over-represented
    language' mixture primitive). A row_number window over the total
    order (n_chars desc, doc_id) with rn ≤ 20: Spark compiles the
    filter into WindowGroupLimit, so each task keeps only a 20-row
    heap per key before the shuffle — the cap is enforced map-side,
    never materializing the full per-language ordering."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 / Q20 / Q21 shapes (completing the 22-query suite; Q2/Q11
# shapes are cheapest_part_per_brand / heavy_hitter_customers). The
# testdata has no partsupp table and lineitem carries no commit/receipt
# dates, so supply cost is proxied by 60% of p_retailprice (exact
# decimal arithmetic) and "late" by shipping >60 days after the order
# date — the join/aggregate STRUCTURE of each query is unchanged.
# ---------------------------------------------------------------------------

@register(
    "q9_product_profit",
    oracle="""
select nation, o_year, cast(sum(amount) as double) as sum_profit
from (
  select n_name as nation,
         cast(extract(year from o_orderdate) as bigint) as o_year,
         cast(l_extendedprice as decimal(12,2)) * cast(1 - l_discount as decimal(12,2))
           - cast(p_retailprice as decimal(12,2)) * cast(0.6 as decimal(2,1))
             * cast(l_quantity as decimal(12,2)) as amount
  from lineitem
  join supplier on s_suppkey = l_suppkey
  join part on p_partkey = l_partkey
  join orders on o_orderkey = l_orderkey
  join nation on s_nationkey = n_nationkey
  where p_name like '%rod%'
) t
group by nation, o_year
order by nation, o_year desc
""",
    headline=True,
)
def q_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year).
    Supply cost is 60% of p_retailprice in exact decimal arithmetic
    (no partsupp table in the testdata); the 5-way join / group-by
    structure matches Q9. Plan: the p_name filter prunes part FIRST
    and that selectivity flows through l_partkey; broadcast hint only
    on nation (25 rows) — part/supplier/orders scale with SF and are
    AQE-decided. All money math in decimal → identical doubles in both
    engines regardless of partial-agg order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%rod%"))
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    amount = dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast(
        "decimal(12,2)"
    ) - dec("p_retailprice") * F.lit(0.6).cast("decimal(2,1)") * dec("l_quantity")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "q20_potential_promotion",
    oracle="""
select s_name, s_suppkey
from supplier
join nation on s_nationkey = n_nationkey
where s_suppkey in (
    select l_suppkey
    from lineitem
    join part on p_partkey = l_partkey
    where p_name like 'cold%'
      and l_shipdate >= timestamp '1996-01-01'
      and l_shipdate < timestamp '1997-01-01'
    group by l_suppkey, l_partkey
    having sum(cast(l_quantity as decimal(12,2))) > 50
)
order by s_name, s_suppkey
""",
)
def q_q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with promotable surplus of a part
    class): an aggregate subquery — per (supplier, part) shipped
    quantity of 'cold%' parts in 1996 over a threshold — drives a
    LEFT SEMI join back to supplier. The canonical Q20 thresholds
    against partsupp availability; absent that table the shape keeps
    the inner GROUP BY + HAVING + semi join. Quantity summed as exact
    decimal so the >50 threshold can't flip on partial-agg order.
    Plan: part filter prunes first, inner agg shuffles only the
    filtered lineitem slice, semi join output is supplier-sized."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("timestamp_ntz'1997-01-01 00:00:00'"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("cold%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    promo_supps = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            promo_supps, supplier["s_suppkey"] == promo_supps["l_suppkey"], "left_semi"
        )
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "s_suppkey")
        .orderBy("s_name", "s_suppkey")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
with lo as (
  select l_orderkey, l_suppkey,
         max(case when l_shipdate > o_orderdate + interval 60 day
                  then 1 else 0 end) as late
  from lineitem
  join orders on o_orderkey = l_orderkey
  where o_orderstatus = 'F'
  group by l_orderkey, l_suppkey
),
flagged as (
  select l_orderkey, l_suppkey
  from (
    select l_orderkey, l_suppkey, late,
           count(*) over (partition by l_orderkey) as n_supp,
           sum(late) over (partition by l_orderkey) as n_late
    from lo
  )
  where late = 1 and n_supp > 1 and n_late = 1
)
select s_name, cast(count(*) as bigint) as numwait
from flagged
join supplier on s_suppkey = l_suppkey
group by s_name
order by numwait desc, s_name
limit 20
""",
    headline=True,
)
def q_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept finalized orders waiting:
    the only late supplier on a multi-supplier order). The canonical
    EXISTS / NOT EXISTS double self-join is rewritten as one
    aggregation + one window over the SAME orderkey partitioning —
    Spark reuses the exchange, so the whole detection costs a single
    shuffle of the 'F'-status lineitems instead of three self-join
    passes (the standard scale rewrite; semantics proven equal row
    set). "Late" adapts to shipping >60 days after order date (no
    receipt/commit dates in the testdata)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    per_supp = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        flagged.join(supplier, flagged["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Training-data curation battery (repetition / PII / quality gate /
# embedding quantization) — operators/curation.py
# ---------------------------------------------------------------------------

from .operators.curation import (  # noqa: E402
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    pii_scrub,
    plant_pii,
    quality_gate,
    repetition_signals,
)


@register(
    "repetition_signals",
    oracle=f"""
with tok as (select doc_id, unnest({SQL_TOKS}) as w from documents),
wc as (select doc_id, w, count(*) as n from tok group by doc_id, w),
prof as (select doc_id, cast(sum(n) as bigint) as n_tokens,
                cast(count(*) as bigint) as n_distinct,
                cast(max(n) as bigint) as max_count
         from wc group by doc_id)
select doc_id, n_tokens,
       round(cast(max_count as double) / cast(n_tokens as double), 9) as top_word_frac,
       round(1.0 - cast(n_distinct as double) / cast(n_tokens as double), 9) as dup_word_frac,
       (round(cast(max_count as double) / cast(n_tokens as double), 9) > 0.2
        or round(1.0 - cast(n_distinct as double) / cast(n_tokens as double), 9) > 0.7)
         as repetitive
from prof
""",
)
def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filter signals (top-word fraction,
    duplicate-word fraction) — one (doc_id, token) aggregation with
    map-side combine, one rollup; no self-join."""
    return repetition_signals(load_table(spark, sf_dir, "documents"))


@register(
    "pii_scrub_stats",
    oracle=f"""
with planted as (
  select doc_id,
         text || ' contact user' || cast(doc_id as varchar)
              || '@mail.example.com call +1-555-'
              || lpad(cast(doc_id % 10000 as varchar), 4, '0')
              || ' from 10.0.' || cast(doc_id % 256 as varchar) || '.7' as text
  from documents
),
red as (
  select doc_id, text,
         regexp_replace(regexp_replace(regexp_replace(text,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g'),
             '{IPV4_RE}', '<IP>', 'g') as redacted
  from planted
)
select doc_id,
       cast(len(regexp_extract_all(text, '{EMAIL_RE}')) as bigint) as n_emails,
       cast(len(regexp_extract_all(text, '{PHONE_RE}')) as bigint) as n_phones,
       cast(len(regexp_extract_all(text, '{IPV4_RE}')) as bigint) as n_ips,
       md5(redacted) as redacted_md5,
       cast(length(text) - length(redacted) as bigint) as chars_removed
from red
""",
)
def q_pii_scrub_stats(spark, sf_dir):
    """PII redaction (emails / phones / IPv4) with per-doc match counts
    and an md5 of the fully-redacted text. The synthetic corpus holds
    no PII, so deterministic doc_id-derived PII is planted first (same
    literal expression in the oracle); the scrubber itself is a pure
    per-row map — no shuffle, linear at any scale. RE2-safe patterns
    run verbatim in both engines."""
    return pii_scrub(plant_pii(load_table(spark, sf_dir, "documents")))


@register(
    "quality_gate_filter",
    headline=True,
    oracle=f"""
with t as (select doc_id, lang, {SQL_TOKS} as toks from documents),
base as (select doc_id, lang,
                cast(len(toks) as bigint) as n_tokens,
                cast(list_sum(list_transform(toks, x -> length(x))) as bigint) as sum_word_len,
                cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as bigint) as sw_hits
         from t),
wc as (select doc_id, w, count(*) as n
       from (select doc_id, unnest({SQL_TOKS}) as w from documents)
       group by doc_id, w),
prof as (select doc_id, cast(max(n) as bigint) as max_count from wc group by doc_id),
lab as (
  select b.doc_id, b.lang, b.n_tokens,
         case when b.n_tokens < 10 then 'too_short'
              when b.n_tokens > 5000 then 'too_long'
              when (cast(b.sum_word_len as double) / cast(b.n_tokens as double) < 2.0
                    or cast(b.sum_word_len as double) / cast(b.n_tokens as double) > 12.0)
                   then 'word_length'
              when cast(b.sw_hits as double) / cast(b.n_tokens as double) < 0.05
                   then 'low_stopword'
              when cast(p.max_count as double) / cast(b.n_tokens as double) > 0.2
                   then 'repetitive'
              end as reason
  from base b left join prof p using (doc_id)
)
select doc_id, lang, n_tokens, reason, reason is null as keep from lab
""",
)
def q_quality_gate_filter(spark, sf_dir):
    """Composite C4/Gopher-style quality gate: every document labeled
    keep/drop with the first failed rule as the reason (fixed
    precedence). Per-row array math plus the one-shuffle word
    profile."""
    return quality_gate(load_table(spark, sf_dir, "documents"))


@register(
    "embedding_quantize_int8",
    oracle="""
with e as (select vec_id, label,
                  list_transform(embedding, x -> cast(x as double)) as v
           from embeddings),
q as (select vec_id, label, v,
             list_min(v) as mn, list_max(v) as mx from e)
select vec_id, label,
       cast(len(v) as bigint) as n_dims,
       mn, mx,
       md5(array_to_string(list_transform(v,
           x -> cast(floor((x - mn) / (mx - mn) * 255) as bigint)), ',')) as codes_md5,
       cast(list_sum(list_transform(v,
           x -> cast(floor((x - mn) / (mx - mn) * 255) as bigint))) as bigint) as codes_sum
from q
where mx > mn
""",
)
def q_embedding_quantize_int8(spark, sf_dir):
    """Per-vector int8 scalar quantization (the memory-compression
    primitive ANN indexes apply before storing 100 TB of embeddings):
    code_i = floor((x_i − min) / (max − min) · 255). Pure per-row map
    — zero shuffle, linear at any scale. The code expression is
    sub/div/mul only (no multiply-add shape, so no cross-engine FMA
    fusion); codes are exact integers, checked via md5 of the code
    string + an exact integer checksum."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", "label", v.alias("v")).select(
        "vec_id",
        "label",
        "v",
        F.array_min("v").alias("mn"),
        F.array_max("v").alias("mx"),
    )
    code = lambda x: F.floor(
        (x - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
    ).cast("bigint")
    codes = F.transform(F.col("v"), code)
    return base.filter(F.col("mx") > F.col("mn")).select(
        "vec_id",
        "label",
        F.size("v").cast("bigint").alias("n_dims"),
        "mn",
        "mx",
        F.md5(F.concat_ws(",", F.transform(codes, lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.aggregate(
            codes, F.lit(0).cast("bigint"), lambda acc, c: acc + c
        ).alias("codes_sum"),
    )


# ---------------------------------------------------------------------------
# Round-3 breadth: stream-static join, BPE-ish tokenizer, chunking
# ---------------------------------------------------------------------------

@register(
    "streaming_nation_rollup",
    oracle="""
select n_name,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from events e
left join nation n on (e.user_id % 25) = n.n_nationkey
group by n_name
""",
)
def q_streaming_nation_rollup(spark, sf_dir):
    """Stream-static enrichment join (broadcast dim onto the event
    stream) + COMPLETE-mode rollup; equals the batch join+rollup on the
    finite input."""
    from .streaming.events_stream import run_streaming_nation_rollup

    return run_streaming_nation_rollup(spark, sf_dir)


@register(
    "streaming_interval_join",
    oracle="""
select a.event_id as click_id, b.event_id as purchase_id
from events a
join events b
  on a.user_id = b.user_id
 and a.event_type = 'click' and b.event_type = 'purchase'
 and epoch_us(b.ts) >= epoch_us(a.ts)
 and epoch_us(b.ts) < epoch_us(a.ts) + 1800000000
""",
)
def q_streaming_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join: click → same-user
    purchase within 30 minutes, two independent readStream sources,
    APPEND mode. Both sides watermarked so join state is evicted (the
    state-bounded production shape). On the finite input this equals
    the batch range join restricted to click→purchase pairs — the
    events_followup_pairs oracle shape (operators/rangejoin.py)."""
    from .streaming.events_stream import run_streaming_interval_join

    return run_streaming_interval_join(spark, sf_dir)


@register(
    "bpe_token_counts",
    oracle="""
select doc_id,
       cast(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) as bigint)
         as n_ws_tokens,
       cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) as bigint)
         as n_bpe_tokens,
       round(cast(length(text) as double)
             / cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) as double), 9)
         as chars_per_bpe_token
from documents
where length(text) > 0
  and len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) > 0
""",
)
def q_bpe_token_counts(spark, sf_dir):
    """Token counting under a BPE-ish regex pre-tokenizer (letter runs
    / single digits / punctuation — the GPT-2 pre-tokenizer family)
    next to whitespace counts, plus chars-per-token (the compression
    diagnostic a tokenizer-budget planner needs). Pure per-row regex
    map, no shuffle; the pattern is Java-regex∩RE2-portable. Docs with
    zero BPE tokens (e.g. all-space text) are filtered in BOTH engines:
    the division would be NULL in non-ANSI Spark but inf in DuckDB, a
    cross-engine divergence the guard removes."""
    docs = load_table(spark, sf_dir, "documents")
    # idx=0 → whole match (the pattern has no capture groups)
    bpe = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), 0)
    return docs.filter((F.length("text") > 0) & (F.size(bpe) > 0)).select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.round(
            F.length("text").cast("double") / F.size(bpe).cast("double"), 9
        ).alias("chars_per_bpe_token"),
    )


@register(
    "doc_chunks",
    oracle="""
with t as (
  select doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') as toks
  from documents
),
s as (
  select doc_id, toks, unnest(generate_series(0, len(toks) - 1, 96)) as start
  from t
  where len(toks) > 0
)
select doc_id,
       cast(floor(start / 96) as bigint) as chunk_id,
       cast(start as bigint) as start_tok,
       cast(least(128, len(toks) - start) as bigint) as n_chunk_toks,
       md5(array_to_string(list_slice(toks, start + 1, start + 128), ' ')) as chunk_md5
from s
""",
)
def q_doc_chunks(spark, sf_dir):
    """Fixed-size token chunking with overlap (window 128, stride 96 —
    the pre-training doc→sample splitter). Chunk starts are generated
    per row with ``sequence`` and exploded — zero shuffle, linear scan;
    chunk content is verified via md5 of the joined token slice.
    Spark's ``sequence`` yields a DESCENDING range when start > stop,
    so empty docs are guarded out before the explode (same filter in
    the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(96))
    chunked = base.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    )
    return chunked.select(
        "doc_id",
        F.floor(F.col("start") / F.lit(96)).cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(128), F.size("toks") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_toks"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("start") + 1, 128))
        ).alias("chunk_md5"),
    )


@register(
    "events_gap_fill",
    oracle="""
with hourly as (
  select event_type, date_trunc('hour', ts) as hour_start,
         cast(count(*) as bigint) as n_events,
         sum(cast(value as decimal(12,2))) as sv
  from events group by 1, 2
),
grid as (
  select event_type,
         unnest(generate_series(min(hour_start), max(hour_start),
                                interval 1 hour)) as hour_start
  from hourly group by event_type
)
select g.event_type, g.hour_start,
       coalesce(h.n_events, 0) as n_events,
       cast(coalesce(h.sv, cast(0 as decimal(12,2))) as double) as sum_value
from grid g
left join hourly h
  on g.event_type = h.event_type and g.hour_start = h.hour_start
""",
)
def q_events_gap_fill(spark, sf_dir):
    """Time-series gap filling: dense per-type hourly grid (sequence +
    explode over each type's own span) left-joined onto the hourly
    aggregate, missing buckets zero-filled. The grid is bounded by
    types x hours (time, not data volume); the fact aggregate does the
    parallel heavy lifting — see operators.timeseries."""
    from .operators.timeseries import gap_fill_hourly

    return gap_fill_hourly(load_table(spark, sf_dir, "events"))


@register(
    "rolling_7d_revenue",
    oracle="""
with daily as (
  select o_orderdate, sum(cast(o_totalprice as decimal(14,2))) as rev
  from orders group by 1
)
select o_orderdate,
       cast(rev as double) as day_revenue,
       cast(sum(rev) over (
         order by date_diff('day', timestamp '1970-01-01', o_orderdate)
         range between 6 preceding and current row) as double)
         as rolling_7d_revenue
from daily
""",
)
def q_rolling_7d_revenue(spark, sf_dir):
    """Trailing 7-day rolling revenue via an integer RANGE frame over
    the *daily aggregate* (cardinality = calendar days, so the ordered
    window is thousands of rows even at 100 TB of orders; the day-grain
    pre-aggregate is the parallel shuffle). Decimal accumulation keeps
    both sums exact — see operators.timeseries."""
    from .operators.timeseries import rolling_daily_revenue

    return rolling_daily_revenue(load_table(spark, sf_dir, "orders"))


@register(
    "doc_token_entropy",
    headline=True,
    oracle=f"""
with tf as (
  select doc_id, t as tok, cast(count(*) as bigint) as c
  from (select doc_id, unnest({SQL_TOKS}) as t from documents)
  group by doc_id, t
)
select doc_id,
       cast(sum(c) as bigint) as n_tokens,
       cast(count(*) as bigint) as n_distinct,
       round(ln(cast(sum(c) as double))
             - sum(cast(c as double) * ln(cast(c as double)))
               / cast(sum(c) as double), 9) as entropy_nats
from tf group by doc_id
""",
)
def q_doc_token_entropy(spark, sf_dir):
    """Unigram Shannon entropy per document (H = ln N - sum(c ln c)/N)
    — the repetition/diversity quality signal LLM-corpus filters rank
    on (low entropy = boilerplate/repeated spans).

    Entropy is a PER-DOCUMENT quantity, so it is computed entirely
    map-side with array expressions (sort tokens, find run starts,
    diff consecutive starts into run lengths, fold c·ln c) — ZERO
    shuffle, unlike the naive explode + double groupBy, which
    exchanges every token occurrence twice. Each derived array is
    MATERIALIZED in its own projection before the next lambda uses it:
    Spark does no common-subexpression elimination inside
    higher-order-function lambdas, so referencing an inlined
    array_sort(...) tree from a per-element lambda re-sorts the array
    per element (measured: quadratic, ~45 s at sf0.1 vs ~1 s staged).
    Per-row fold order vs the oracle's aggregate order differ in float
    accumulation → rounded to 9 dp on both engines.

    The zero-shuffle design makes the whole computation run INSIDE the
    scan stage — one task on the local single-row-group file, with
    every HOF lambda interpreted — so the scan is spread first
    (optimization r14, second segment; no-op at cluster scan width)."""
    from .sources.readers import spread_small_scan

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    d1 = docs.select(
        "doc_id", F.array_sort(tokens("text")).alias("s")
    ).filter(F.size("s") > 0)
    s_col, n = F.col("s"), F.size("s")
    # 1-based positions where a new distinct token's run begins
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.get(s_col, i - 1) != F.get(s_col, i - 2)
        ),
    )
    d2 = d1.select("doc_id", n.alias("n"), starts.alias("starts"))
    # run lengths = diffs of consecutive starts (with n+1 sentinel)
    d3 = d2.select(
        "doc_id",
        "n",
        "starts",
        F.concat(F.col("starts"), F.array(F.col("n") + 1)).alias("bounds"),
    )
    counts = F.zip_with(
        F.slice(F.col("bounds"), 1, F.size("starts")),
        F.slice(F.col("bounds"), 2, F.size("starts")),
        lambda a, b: b - a,
    )
    d4 = d3.select("doc_id", "n", "starts", counts.alias("counts"))
    clogc = F.aggregate(
        F.col("counts"),
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log(c.cast("double")),
    )
    return d4.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.size("starts").cast("long").alias("n_distinct"),
        F.round(
            F.log(F.col("n").cast("double")) - clogc / F.col("n").cast("double"), 9
        ).alias("entropy_nats"),
    )


@register(
    "winsorized_event_values",
    oracle="""
with b as (
  select quantile_cont(value, 0.05) as lo, quantile_cont(value, 0.95) as hi
  from events where value is not null
)
select event_type,
       cast(count(value) as bigint) as n_values,
       round(sum(least(greatest(value, lo), hi)) / count(value), 9)
         as avg_winsorized,
       round(min(least(greatest(value, lo), hi)), 9) as min_winsorized,
       round(max(least(greatest(value, lo), hi)), 9) as max_winsorized
from events, b
where value is not null
group by event_type
""",
)
def q_winsorized_event_values(spark, sf_dir):
    """Outlier winsorization: clamp values to the global [p05, p95]
    band (Spark ``percentile`` is bit-identical to DuckDB
    ``quantile_cont``), then per-type stats. The two percentiles are a
    single 1-row aggregate cross-joined (broadcast) onto the facts —
    one wide scan + one tiny exchange. Cross-row double means rounded
    to 9 dp (order-dependent accumulation)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.count("value").cast("long").alias("n_values"),
            F.round(F.sum(clamped) / F.count("value"), 9).alias("avg_winsorized"),
            F.round(F.min(clamped), 9).alias("min_winsorized"),
            F.round(F.max(clamped), 9).alias("max_winsorized"),
        )
    )


@register(
    "streaming_upsert_latest",
    oracle="""
select user_id, event_id, ts, event_type, value
from (
  select user_id, event_id, ts, event_type, value,
         row_number() over (partition by user_id
                            order by ts desc, event_id desc) as rn
  from events
) where rn = 1
""",
)
def q_streaming_upsert_latest(spark, sf_dir):
    """Streaming CDC apply: foreachBatch conditional upsert
    (apply-latest-by-timestamp MERGE per micro-batch) into a versioned
    parquet target. Converges to the batch latest-event-per-user result
    for ANY micro-batch slicing — checked against exactly that SQL.
    See streaming.upsert."""
    from .streaming.upsert import run_streaming_upsert_latest

    return run_streaming_upsert_latest(spark, sf_dir)


@register(
    "fuzzy_address_pairs",
    oracle="""
with addrs as (
  select distinct cast(user_id as varchar) as addr from events
  where user_id is not null
)
select a.addr as addr_a, b.addr as addr_b,
       cast(levenshtein(a.addr, b.addr) as bigint) as edit_dist
from addrs a
join addrs b
  on len(a.addr) = len(b.addr)
 and substr(a.addr, 1, 1) = substr(b.addr, 1, 1)
 and a.addr < b.addr
where levenshtein(a.addr, b.addr) <= 1
""",
)
def q_fuzzy_address_pairs(spark, sf_dir):
    """Fuzzy matching (approximate-dedup of the reference's
    receiving_address domain, FIXTURES.md §B mapping): candidate pairs
    from a BLOCKED self-join — same (length, first char) block — then
    exact ``levenshtein <= 1`` verify. Blocking bounds the join to
    within-block cardinality (the standard scalable fuzzy-join shape:
    candidates by cheap key, verify by exact distance); the distinct
    address list is dim-sized, so blocks broadcast under AQE. Edit
    distance is an exact algorithm — identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    addrs = (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").cast("string").alias("addr"))
        .distinct()
        .withColumn("blk_len", F.length("addr"))
        .withColumn("blk_c", F.substring("addr", 1, 1))
    )
    a = addrs.alias("a")
    b = addrs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk_len") == F.col("b.blk_len"))
            & (F.col("a.blk_c") == F.col("b.blk_c"))
            & (F.col("a.addr") < F.col("b.addr")),
        )
        .select(
            F.col("a.addr").alias("addr_a"),
            F.col("b.addr").alias("addr_b"),
            F.levenshtein(F.col("a.addr"), F.col("b.addr"))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 1)
    )


@register(
    "event_type_cooccurrence",
    oracle="""
with ut as (select distinct user_id, event_type from events),
singles as (select event_type, cast(count(*) as bigint) as n_users
            from ut group by event_type),
total as (select cast(count(distinct user_id) as bigint) as n from ut),
pairs as (
  select a.event_type as type_a, b.event_type as type_b,
         cast(count(*) as bigint) as n_users_both
  from ut a join ut b
    on a.user_id = b.user_id and a.event_type < b.event_type
  group by 1, 2
)
select p.type_a, p.type_b, p.n_users_both,
       round(cast(p.n_users_both as double) * t.n
             / (sa.n_users * sb.n_users), 9) as lift
from pairs p
join singles sa on sa.event_type = p.type_a
join singles sb on sb.event_type = p.type_b
cross join total t
""",
)
def q_event_type_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence with lift over (user, event_type)
    baskets. The pair support comes from ONE aggregation: per-user
    sorted distinct-type sets expanded to ordered pairs JVM-side
    (transform/slice/flatten) — no quadratic self-join of the fact
    table (same set-expansion pattern as the jaccard/minhash candidate
    paths). Lift divides by the singles counts, joined back as
    broadcast-sized dims. The (user, type) base is explicitly
    partitioned on user_id once, so the distinct and the per-user
    set aggregation share a single fact exchange."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").repartition("user_id").distinct()
    sets = ut.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    )
    n = F.size("ts")
    pair_arr = F.flatten(
        F.transform(
            "ts",
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, n - i - 1),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users_both"))
    )
    singles = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    total = ut.agg(F.countDistinct("user_id").cast("long").alias("n"))
    return (
        pairs.join(
            F.broadcast(singles.withColumnRenamed("event_type", "type_a")
                        .withColumnRenamed("n_users", "na")), "type_a"
        )
        .join(
            F.broadcast(singles.withColumnRenamed("event_type", "type_b")
                        .withColumnRenamed("n_users", "nb")), "type_b"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_users_both",
            F.round(
                F.col("n_users_both").cast("double") * F.col("n")
                / (F.col("na") * F.col("nb")),
                9,
            ).alias("lift"),
        )
    )


@register(
    "funnel_conversion",
    oracle="""
with firsts as (
  select user_id,
         min(ts) filter (where event_type = 'signup')   as t_signup,
         min(ts) filter (where event_type = 'view')     as t_view,
         min(ts) filter (where event_type = 'click')    as t_click,
         min(ts) filter (where event_type = 'purchase') as t_purchase
  from events group by user_id
)
select cast(count(*) as bigint) as n_users,
       cast(count(t_signup) as bigint) as n_signup,
       cast(sum(case when t_view > t_signup then 1 else 0 end) as bigint)
         as n_signup_view,
       cast(sum(case when t_click > t_view and t_view > t_signup
                     then 1 else 0 end) as bigint) as n_signup_view_click,
       cast(sum(case when t_purchase > t_click and t_click > t_view
                      and t_view > t_signup then 1 else 0 end) as bigint)
         as n_full_funnel
from firsts
""",
)
def q_funnel_conversion(spark, sf_dir):
    """Ordered funnel (signup → view → click → purchase by FIRST
    occurrence per user): one keyed aggregate computes each step's
    first timestamp (conditional min — map-side combinable), one global
    aggregate counts strictly-ordered progressions. Two hash
    aggregates total; all-integer outputs, no float drift. Null
    comparisons (missing steps) are null → counted false in both
    engines."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(step):
        return F.min(F.when(F.col("event_type") == step, F.col("ts"))).alias(
            f"t_{step}"
        )

    firsts = ev.groupBy("user_id").agg(
        first_ts("signup"), first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    t = lambda s: F.col(f"t_{s}")  # noqa: E731
    step2 = t("view") > t("signup")
    step3 = (t("click") > t("view")) & step2
    step4 = (t("purchase") > t("click")) & (t("click") > t("view")) & step2
    as_cnt = lambda c, name: F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(name)  # noqa: E731
    return firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t_signup").cast("long").alias("n_signup"),
        as_cnt(step2, "n_signup_view"),
        as_cnt(step3, "n_signup_view_click"),
        as_cnt(step4, "n_full_funnel"),
    )


@register(
    "retention_cohorts",
    headline=True,
    oracle="""
with ud as (
  select distinct user_id, date_trunc('day', ts) as d from events
),
fd as (select user_id, min(d) as cohort_day from ud group by user_id)
select fd.cohort_day,
       cast(date_diff('day', fd.cohort_day, ud.d) as bigint) as day_offset,
       cast(count(*) as bigint) as n_active
from ud join fd on ud.user_id = fd.user_id
group by 1, 2
""",
)
def q_retention_cohorts(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-seen day, activity
    counted per (cohort_day, day-offset). The activity table is
    explicitly hash-partitioned on user_id ONCE: hashpartitioning
    (user_id) satisfies the clustered-distribution requirement of the
    (user_id, day) distinct, the per-user min aggregate AND the
    cohort join, so the whole per-user chain runs on a single fact
    exchange (plan-asserted in tests/test_analytics.py). n_active
    counts (user, day) pairs — each user is distinct per day by
    construction."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d")
        )
        .repartition("user_id")
        .distinct()
    )
    fd = ud.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ud.join(fd, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).cast("long").alias(
                "day_offset"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


@register(
    "nation_revenue_share",
    oracle="""
with nr as (
  select n.n_name as nation,
         sum(cast(o.o_totalprice as decimal(16,2))) as rev
  from orders o
  join customer c on o.o_custkey = c.c_custkey
  join nation n on c.c_nationkey = n.n_nationkey
  group by n.n_name
)
select nation, cast(rev as double) as revenue,
       round(cast(rev as double) / cast(sum(rev) over () as double), 9)
         as revenue_share
from nr
""",
)
def q_nation_revenue_share(spark, sf_dir):
    """Percent-of-total: per-nation revenue plus share of the grand
    total via an UNPARTITIONED window over the aggregated (25-row)
    result — the window's single partition holds one row per nation,
    never fact rows. Revenue accumulates in decimal (exact); the share
    is one deterministic double division, rounded on both engines."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    nr = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(16,2)")).alias("rev"))
    )
    w = Window.partitionBy()
    return nr.select(
        "nation",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 9
        ).alias("revenue_share"),
    )


@register(
    "event_value_histogram",
    oracle="""
with b as (
  select least(greatest(cast(floor(value / 25.0) + 1 as bigint), 0), 25) as bucket
  , value
  from events
  where value is not null
)
select bucket,
       round((bucket - 1) * 25.0, 2) as bucket_lo,
       cast(count(*) as bigint) as n_events,
       cast(sum(cast(value as decimal(12,2))) as double) as sum_value
from b
group by 1, 2
""",
)
def q_event_value_histogram(spark, sf_dir):
    """Fixed-width histogram via SQL-standard ``width_bucket`` (24
    equal bins over [0, 600]): one map-side-combinable aggregate, the
    complement of the quantile-based ``doc_length_buckets``. Bin edges
    (600/24 = 25) are exactly representable doubles, so Spark's
    width_bucket equals the oracle's ``floor(v/25)+1`` (DuckDB 1.0 has
    no width_bucket; the formula is its in-range definition). The
    oracle mirrors width_bucket's out-of-range clamp (bucket 0 below,
    n+1 above) with least/greatest so values outside [0, 600) — absent
    at current SFs but possible at larger ones — bucket identically,
    with bucket_lo derived from the clamped bucket in both engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.width_bucket("value", F.lit(0), F.lit(600), F.lit(24))
    return ev.groupBy(
        b.cast("long").alias("bucket"),
        F.round((b - 1).cast("double") * 25.0, 2).alias("bucket_lo"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )


@register(
    "monthly_revenue_growth",
    oracle="""
with m as (
  select date_trunc('month', o_orderdate) as month_start,
         sum(cast(o_totalprice as decimal(16,2))) as rev
  from orders group by 1
)
select month_start,
       cast(rev as double) as revenue,
       round((cast(rev as double)
              - cast(lag(rev) over (order by month_start) as double))
             / cast(lag(rev) over (order by month_start) as double), 9)
         as mom_growth
from m
""",
)
def q_monthly_revenue_growth(spark, sf_dir):
    """Month-over-month growth — expressed through the ``spark.sql``
    SURFACE (temp view + SQL text) rather than the DataFrame API, to
    exercise the second declarative entry point; Catalyst produces the
    identical plan either way. Month-grain pre-aggregate (exact
    decimal) keeps the ordered lag window at calendar cardinality;
    first month's growth is null (lag has no input) in both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        with m as (
          select cast(date_trunc('month', o_orderdate) as timestamp_ntz)
                   as month_start,
                 sum(cast(o_totalprice as decimal(16,2))) as rev
          from orders_v group by 1
        )
        select month_start,
               cast(rev as double) as revenue,
               round((cast(rev as double)
                      - cast(lag(rev) over (order by month_start) as double))
                     / cast(lag(rev) over (order by month_start) as double), 9)
                 as mom_growth
        from m
        """
    )


def _label_pca_oracle(iters: int = 24, d: int = 64) -> str:
    """Unrolled power-iteration replay of label_pca_variance (r11
    directive #2): exact hugeint Gram matrix from the same scaled-int
    sufficient statistics, ``iters`` sweeps with trunc-toward-zero
    integer renormalization (DuckDB ``//`` ≡ the operator's tdiv), and
    the identical final three double divisions, rounded at 6dp."""
    rng = f"range(1, {d + 1})"
    steps = []
    for t in range(iters):
        steps.append(f"""
p{t} as materialized (
  select g.label, g.i as j, sum(g.gij * v.vj) as w
  from g join v{t} v on g.label = v.label and g.j = v.j
  group by g.label, g.i
),
a{t} as (select label, max(abs(w)) as aw from p{t} group by label),
v{t + 1} as materialized (
  select p.label, p.j,
         case when a.aw = 0 then v.vj
              when p.w >= 0 then (p.w * 1048576) // a.aw
              else -((-p.w * 1048576) // a.aw) end as vj
  from p{t} p
  join a{t} a using (label)
  join v{t} v on p.label = v.label and p.j = v.j
)""")
    return f"""
with xs as (
  select label,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
st as (select label, cast(count(*) as bigint) as n from xs group by label),
sums as (
  select label, i.i as i, sum(v[i.i]) as s
  from xs, {rng} i(i)
  group by label, i.i
),
mu as (
  select m.label, m.i,
         case when m.s >= 0 then (2 * m.s + t.n) // (2 * t.n)
              else -((-2 * m.s + t.n) // (2 * t.n)) end as m
  from sums m join st t using (label)
),
mul as (select label, list(m order by i) as ml from mu group by label),
ys as materialized (
  select x.label,
         list_transform({rng}, i -> cast(x.v[i] - m.ml[i] as hugeint)) as y
  from xs x join mul m using (label)
),
g as materialized (
  select y.label, i.i as i, j.j as j, sum(y.y[i.i] * y.y[j.j]) as gij
  from ys y, {rng} i(i), {rng} j(j)
  group by y.label, i.i, j.j
),
v0 as (
  select label, j.j as j, cast(1048576 as hugeint) as vj
  from st, {rng} j(j)
),
{",".join(steps)},
tr as (select label, sum(gij) as trg from g where i = j group by label),
num as (
  select g.label, sum(vi.vj * g.gij * vj.vj) as nm
  from g
  join v{iters} vi on g.label = vi.label and g.i = vi.j
  join v{iters} vj on g.label = vj.label and g.j = vj.j
  group by g.label
),
den as (select label, sum(vj * vj) as dn from v{iters} group by label)
select t.label,
       t.n as n_vectors,
       round(cast(r.trg as double)
             / (cast(t.n as double) * 1000000.0 * 1000000.0), 6)
         as total_variance,
       round((cast(nm.nm as double) / cast(dd.dn as double))
             / (cast(t.n as double) * 1000000.0 * 1000000.0), 6)
         as leading_eigenvalue,
       case when r.trg = 0 then null
            else round((cast(nm.nm as double) / cast(dd.dn as double))
                       / cast(r.trg as double), 6) end
         as explained_ratio
from st t
join tr r using (label)
join num nm using (label)
join den dd using (label)
"""


@register("label_pca_variance", oracle=_label_pca_oracle(iters=24))
def q_label_pca_variance(spark, sf_dir):
    """Per-label embedding PCA summary (total variance, leading
    eigenvalue, explained ratio) — FULL-ORACLE since r12: redesigned
    from an applyInPandas float eigensolve (rows-only by nature) to a
    deterministic exact-integer power iteration whose every
    intermediate both engines reproduce bit-for-bit. One distributed
    pass of exact sufficient statistics (decimal raw second moments,
    labels × d(d+1)/2 state), driver-side arbitrary-precision
    iteration, DuckDB replay via unrolled hugeint CTE sweeps. See
    operators.similarity.label_pca_variance; convergence accuracy vs
    numpy's eigvalsh is pinned by pytest on a gapped spectrum."""
    from .operators.similarity import label_pca_variance

    return label_pca_variance(load_table(spark, sf_dir, "embeddings"))


@register(
    "scd2_user_type_history",
    oracle="""
with ordered as (
  select user_id, event_type, ts, event_id,
         lag(event_type) over (partition by user_id
                               order by ts, event_id) as prev_type
  from events
),
changes as (
  select user_id, event_type, ts, event_id from ordered
  where prev_type is null or prev_type <> event_type
)
select user_id, event_type,
       ts as valid_from,
       lead(ts) over (partition by user_id
                      order by ts, event_id) as valid_to,
       cast(row_number() over (partition by user_id
                               order by ts, event_id) as bigint) as version
from changes
""",
)
def q_scd2_user_type_history(spark, sf_dir):
    """SCD Type-2 dimension build from an event stream: collapse each
    user's event_type timeline into change rows with [valid_from,
    valid_to) validity ranges (valid_to null = current) and a version
    number — the slowly-changing-dimension complement of the Type-1
    ``merge_upsert_events``. Two windows over the SAME (user_id →
    ts, event_id) partition spec, so Catalyst plans ONE exchange +
    sort pair; (ts, event_id) is a total order → deterministic,
    engine-portable output."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")))
        .drop("prev_type")
    )
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
    )


@register(
    "lateral_top2_customers",
    oracle="""
select n.n_name, t.c_name, t.c_acctbal
from nation n,
lateral (select c_name, c_acctbal from customer c
         where c.c_nationkey = n.n_nationkey
         order by c_acctbal desc, c_name limit 2) t
""",
)
def q_lateral_top2_customers(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT
    (top-2 customers per nation) — the SQL-standard lateral-join
    surface. Catalyst decorrelates it into the same
    window/WindowGroupLimit family as the explicit rank()<=k form, so
    the per-group top-k never materializes full partitions.
    (c_acctbal desc, c_name) is a total order → deterministic set."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        select n.n_name, t.c_name, t.c_acctbal
        from nation_v n,
        lateral (select c_name, c_acctbal from customer_v c
                 where c.c_nationkey = n.n_nationkey
                 order by c_acctbal desc, c_name limit 2) t
        """
    )


@register(
    "event_counts_unpivot",
    oracle="""
with w as (
  select user_id,
         cast(count(*) filter (where event_type = 'signup') as bigint)
           as n_signup,
         cast(count(*) filter (where event_type = 'click') as bigint)
           as n_click,
         cast(count(*) filter (where event_type = 'purchase') as bigint)
           as n_purchase
  from events group by user_id
)
select user_id, 'n_signup' as metric, n_signup as n from w
union all
select user_id, 'n_click' as metric, n_click as n from w
union all
select user_id, 'n_purchase' as metric, n_purchase as n from w
""",
)
def q_event_counts_unpivot(spark, sf_dir):
    """UNPIVOT (wide → long, the inverse of user_event_type_pivot) via
    the native ``DataFrame.unpivot`` — one Expand node over the wide
    aggregate, no UNION re-scan (the oracle's UNION ALL over a CTE is
    the portable-SQL equivalent; DuckDB materializes the CTE once)."""
    ev = load_table(spark, sf_dir, "events")

    def cnt(t):
        return (
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("long")
            .alias(f"n_{t}")
        )

    wide = ev.groupBy("user_id").agg(cnt("signup"), cnt("click"), cnt("purchase"))
    return wide.unpivot(
        ids=["user_id"],
        values=["n_signup", "n_click", "n_purchase"],
        variableColumnName="metric",
        valueColumnName="n",
    )


@register(
    "user_activity_streaks",
    oracle="""
with recursive ud as (
  select distinct user_id,
         date_diff('day', timestamp '1970-01-01',
                   date_trunc('day', ts)) as d
  from events
),
streak(user_id, start_d, d) as (
  select user_id, d, d from ud a
  where not exists (select 1 from ud b
                    where b.user_id = a.user_id and b.d = a.d - 1)
  union all
  select s.user_id, s.start_d, n.d
  from streak s join ud n on n.user_id = s.user_id and n.d = s.d + 1
)
select cast(user_id as bigint) as user_id,
       cast(start_d as bigint) as start_day_no,
       cast(max(d - start_d + 1) as bigint) as streak_days
from streak group by user_id, start_d
""",
)
def q_user_activity_streaks(spark, sf_dir):
    """Consecutive-day activity streaks per user via Spark 4's
    RECURSIVE CTE surface (WITH RECURSIVE ... UNION ALL): anchor =
    days with no predecessor, recursive step = extend by day+1.
    Recursion depth is bounded by the longest streak (calendar span),
    NOT data volume — each step is one co-partitioned join on
    (user_id, day). The same fixpoint the gaps-and-islands window
    trick computes, expressed declaratively on both engines."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("timestamp_ntz"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
    ).distinct().createOrReplaceTempView("user_days_v")
    return spark.sql(
        """
        with recursive streak(user_id, start_d, d) as (
          select user_id, d, d from user_days_v a
          where not exists (select 1 from user_days_v b
                            where b.user_id = a.user_id and b.d = a.d - 1)
          union all
          select s.user_id, s.start_d, n.d
          from streak s join user_days_v n
            on n.user_id = s.user_id and n.d = s.d + 1
        )
        select cast(user_id as bigint) as user_id,
               cast(start_d as bigint) as start_day_no,
               cast(max(d - start_d + 1) as bigint) as streak_days
        from streak group by user_id, start_d
        """
    )


@register(
    "corpus_shuffle_order",
    oracle="""
select doc_id,
       cast(row_number() over (
         order by md5(cast(doc_id as varchar) || ':42'), doc_id
       ) as bigint) as shuffle_pos
from documents
""",
)
def q_corpus_shuffle_order(spark, sf_dir):
    """Deterministic corpus shuffle for training-order assignment:
    position = rank under md5(doc_id || seed) — reproducible across
    runs/engines (md5 is portable; xxhash64 is not), re-shuffled by
    changing the seed. Round 8: the global row index is computed by
    operators/ranks.py:ordered_row_number — range-partition on
    (hash, doc_id), a PARTITIONED row_number inside each contiguous
    range, broadcast per-range count offsets — so the corpus never
    serializes into one window task at any scale (equivalence and
    re-roll stability pinned by tests/test_ranks.py); on a 100 TB
    write the same hash simply becomes the sort key of
    sortWithinPartitions."""
    from .operators.ranks import ordered_row_number

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42")))
    return (
        ordered_row_number(
            docs.select("doc_id", h.alias("__h")),
            ["__h", "doc_id"],
            out_col="shuffle_pos",
        )
        .select("doc_id", F.col("shuffle_pos").cast("long").alias("shuffle_pos"))
    )


@register(
    "variant_props_stats",
    oracle="""
select event_type,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as sum_k,
       cast(max(cast(json_extract_string(props, '$.k') as bigint)) as bigint) as max_k,
       cast(count(json_extract_string(props, '$.k')) as bigint) as n_with_k,
       cast(count(*) as bigint) as n_events
from events group by event_type
""",
)
def q_variant_props_stats(spark, sf_dir):
    """Semi-structured props via the Spark 4 VARIANT type:
    parse_json once into an open-schema binary-encoded variant, then
    typed variant_get extractions — the scale path for ragged JSON
    (single parse, no per-path string re-scan like get_json_object,
    shredded-friendly storage). Oracle = plain JSON extraction in
    DuckDB; only typed extracted columns are returned (variant itself
    is engine-internal)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count("k").cast("long").alias("n_with_k"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@register(
    "weighted_sample_docs",
    oracle="""
with pr as (
  select doc_id, lang, n_chars,
         -ln(cast(cast(concat('0x', substr(md5(cast(doc_id as varchar) || ':ws17'), 1, 7)) as bigint) + 1 as double)
             / 268435457.0) / cast(n_chars as double) as priority
  from documents
  where n_chars > 0
)
select doc_id, lang, cast(n_chars as bigint) as n_chars,
       round(priority, 9) as priority
from pr
order by priority, doc_id
limit 50
""",
)
def q_weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential race): each doc draws u ~ U(0,1] from a
    portable md5-derived 28-bit integer, priority = -ln(u)/weight, and
    the k smallest priorities form the sample — inclusion probability
    proportional to n_chars. One map pass + TakeOrderedAndProject;
    at 100 TB each partition keeps its local top-k so the driver merges
    k·n_partitions rows, never a global sort. Re-seedable via the salt;
    both engines compute the identical hash → identical sample."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h7 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws17"))), 1, 7
    )
    u = (F.conv(h7, 16, 10).cast("bigint") + 1).cast("double") / F.lit(268435457.0)
    priority = -F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round(priority, 9).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(50)
    )


@register(
    "tf_cosine_pairs",
    oracle=f"""
with tf as (
  select d.doc_id, d.lang, t.t as term, cast(count(*) as bigint) as c
  from documents d,
       lateral unnest({SQL_TOKS}) as t(t)
  group by d.doc_id, d.lang, t.t
),
df as (
  select term, cast(count(*) as bigint) as df from tf group by term
),
kept as (
  select tf.* from tf join df using (term) where df.df <= 100
),
nrm as (
  select doc_id, cast(sum(c * c) as bigint) as sumsq from kept group by doc_id
),
dots as (
  select a.doc_id as doc_a, b.doc_id as doc_b, cast(sum(a.c * b.c) as bigint) as dot
  from kept a join kept b on a.term = b.term and a.lang = b.lang
   and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select doc_a, doc_b, dot,
       round(cast(dot as double) / (sqrt(cast(na.sumsq as double)) * sqrt(cast(nb.sumsq as double))), 9) as cosine
from dots
join nrm na on na.doc_id = doc_a
join nrm nb on nb.doc_id = doc_b
where 4 * dot * dot >= na.sumsq * nb.sumsq
order by doc_a, doc_b
""",
)
def q_tf_cosine_pairs(spark, sf_dir):
    """Sparse term-vector cosine similarity via an inverted-index join
    (term-at-a-time), the IR-classic scale path for sparse vectors: no
    dense vectors ever materialize; pairs meet only on shared terms.
    Scale controls mirror the Jaccard path: terms with document
    frequency > 100 are dropped before the self-join (stopword-like
    terms carry no similarity signal but cost df² candidate rows), and
    candidates block on lang. The threshold test cos >= 0.5 runs in
    EXACT integer arithmetic (4·dot² >= sumsq_a·sumsq_b on raw tf
    counts), so the cut is engine-portable with no float boundary
    risk; the reported cosine is display-rounded."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", "lang", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = tf.join(df_.filter(F.col("df") <= 100), "term")
    nrm = kept.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("sumsq"))
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na, nb = nrm.alias("na"), nrm.alias("nb")
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .filter(
            4 * F.col("dot") * F.col("dot")
            >= F.col("na.sumsq") * F.col("nb.sumsq")
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("dot").cast("long").alias("dot"),
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na.sumsq").cast("double"))
                    * F.sqrt(F.col("nb.sumsq").cast("double"))
                ),
                9,
            ).alias("cosine"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "event_value_anomalies",
    oracle="""
with med as (
  select event_type, median(value) as med
  from events where value is not null group by event_type
),
mad as (
  select e.event_type, m.med, median(abs(e.value - m.med)) as mad
  from events e join med m using (event_type)
  where e.value is not null
  group by e.event_type, m.med
)
select e.event_id, e.event_type, e.value,
       round((e.value - m.med) / (1.4826 * m.mad), 9) as robust_z
from events e join mad m using (event_type)
where e.value is not null and m.mad > 0
  and abs(e.value - m.med) > 3 * 1.4826 * m.mad
order by e.event_id
""",
)
def q_event_value_anomalies(spark, sf_dir):
    """Robust anomaly detection: per-type median/MAD (outlier-immune,
    unlike mean/stddev) flags events with |robust z| > 3. Two exact-
    median aggregations over the grouping key + a broadcast of the
    25-ish per-type stats rows back onto the fact — the fact table
    streams through twice, never sorts globally. Exact interpolated
    median matches DuckDB's; the flag comparison reuses the same
    double expressions both engines evaluate identically per-row."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type", "med")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    return (
        ev.join(mad, "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (F.col("value") - F.col("med")) / (1.4826 * F.col("mad")), 9
            ).alias("robust_z"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Round-4 breadth: delete propagation, embedding dedup, Python UDTF
# ---------------------------------------------------------------------------

@register(
    "gdpr_delete_cascade",
    oracle="""
with forgotten as (
  select c_custkey from customer where c_custkey % 97 = 0
),
kept_orders as (
  select o.* from orders o
  where not exists (select 1 from forgotten f where f.c_custkey = o.o_custkey)
),
kept_lineitem as (
  select l.* from lineitem l
  where exists (select 1 from kept_orders o where o.o_orderkey = l.l_orderkey)
)
select 'customer' as tbl,
       (select cast(count(*) as bigint) from customer) as rows_before,
       (select cast(count(*) as bigint) from customer
         where c_custkey % 97 <> 0) as rows_after
union all
select 'orders',
       (select cast(count(*) as bigint) from orders),
       (select cast(count(*) as bigint) from kept_orders)
union all
select 'lineitem',
       (select cast(count(*) as bigint) from lineitem),
       (select cast(count(*) as bigint) from kept_lineitem)
""",
)
def q_gdpr_delete_cascade(spark, sf_dir):
    """Right-to-be-forgotten delete propagation: a deletion list of
    customers cascades through orders (anti join on o_custkey) and then
    lineitem (semi join on surviving o_orderkey). At 100 TB the
    deletion list is the small side — both joins broadcast it and the
    fact tables stream through without shuffling; the audit output
    (per-table before/after counts) is what a compliance job must
    record. No forced hints: the list size is data-dependent, AQE
    broadcasts while it fits."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    forgotten = customer.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    kept_customer = customer.join(
        forgotten, customer["c_custkey"] == forgotten["c_custkey"], "left_anti"
    )
    kept_orders = orders.join(
        forgotten, orders["o_custkey"] == forgotten["c_custkey"], "left_anti"
    )
    kept_lineitem = lineitem.join(
        kept_orders.select("o_orderkey"),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )

    def audit(name, before_df, after_df):
        return before_df.agg(F.count(F.lit(1)).cast("long").alias("rows_before")).crossJoin(
            after_df.agg(F.count(F.lit(1)).cast("long").alias("rows_after"))
        ).select(F.lit(name).alias("tbl"), "rows_before", "rows_after")

    return (
        audit("customer", customer, kept_customer)
        .unionByName(audit("orders", orders, kept_orders))
        .unionByName(audit("lineitem", lineitem, kept_lineitem))
    )


@register(
    "embedding_near_dup_drop",
    oracle="""
with pairs as (
  select a.vec_id as va, b.vec_id as vb
  from embeddings a
  join embeddings b on a.label = b.label and a.vec_id < b.vec_id
  where list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                         list_transform(b.embedding, x -> cast(x as double)))
        / sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double)))
             * list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double))))
        >= 0.999
),
dropped as (select distinct vb from pairs)
select e.label,
       cast(count(*) as bigint) as n_kept,
       (select cast(count(*) as bigint) from dropped) as n_dropped_total
from embeddings e
where not exists (select 1 from dropped d where d.vb = e.vec_id)
group by e.label
""",
)
def q_embedding_near_dup_drop(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup (the semantic-dedup stage
    of a training pipeline): label-blocked self-join finds pairs with
    cosine >= 0.999, the higher vec_id of each pair is dropped, output
    is per-label survivor counts plus the global drop count. Blocked
    join (never all-pairs), per-row array fold in element order →
    engine-identical doubles; the drop list is data-dependent so the
    anti join carries no hint (AQE broadcasts while small). The
    IVF/LSH bucketing (ivf_assignments, brp_lsh_ann_pairs) replaces the
    label block when no natural key exists at 100 TB."""
    from .functions.vectors import cosine_fixed, embedding_dim

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    a = emb.select(F.col("label").alias("lbl"), F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("label").alias("lbl"), F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, ["lbl"])
        .filter(F.col("va") < F.col("vb"))
        # fixed-width unrolled cosine (codegen, bit-identical to the
        # HOF fold — optimization r14)
        .filter(cosine_fixed("ea", "eb", dim) >= 0.999)
        .select("vb")
        .distinct()
    )
    n_dropped = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_dropped_total"))
    kept = emb.join(pairs, emb["vec_id"] == pairs["vb"], "left_anti")
    return (
        kept.groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .crossJoin(n_dropped)
        .select("label", "n_kept", "n_dropped_total")
    )


@register(
    "udtf_sentence_stats",
    oracle="""
with s as (
  select doc_id,
         unnest(list_filter(string_split(text, '.'), x -> trim(x) <> '')) as sent
  from documents
),
t as (
  select doc_id, row_number() over (partition by doc_id order by doc_id) - 1 as idx,
         sent from s
)
select doc_id,
       cast(count(*) as bigint) as n_sentences,
       cast(max(len(list_filter(string_split(lower(trim(sent)), ' '), x -> x <> ''))) as bigint)
         as max_sentence_tokens
from t group by doc_id
""",
)
def q_udtf_sentence_stats(spark, sf_dir):
    """Python UDTF surface (Spark 4 user-defined TABLE function): a
    sentence splitter that lateral-expands each document into sentence
    rows (1→N, schema declared on the class), then aggregates per-doc
    sentence stats. UDTFs are the sanctioned API for set-returning
    Python logic (vs exploding a python-UDF array); the heavy lifting
    stays a single lateral join. Oracle mirrors the split('.') +
    trim-nonempty semantics in SQL. Counts only — engine-portable."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, sent string")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for raw in text.split("."):
                if raw.strip():
                    yield idx, raw
                    idx += 1

    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register("sentence_split", SentenceSplit)
    docs.createOrReplaceTempView("__udtf_docs")
    sent = spark.sql(
        "select d.doc_id, s.idx, s.sent from __udtf_docs d, "
        "lateral sentence_split(d.text) s"
    )
    toks = F.filter(F.split(F.lower(F.trim("sent")), " "), lambda x: x != "")
    return sent.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.max(F.size(toks)).cast("long").alias("max_sentence_tokens"),
    )


@register(
    "pyds_bucket_stats",
    oracle="""
select cast(i % 10 as int) as bucket,
       cast(count(*) as bigint) as n,
       sum(i * 0.5) as sum_value
from generate_series(0, 9999) t(i)
group by 1
""",
)
def q_pyds_bucket_stats(spark, sf_dir):
    """Custom-connector surface: rows arrive through a Spark 4 Python
    DataSource (sources/pyds.py) whose partitions() plan shards the
    fetch into 8 independent splits — the protocol a REST/queue
    connector uses — then a plain aggregate runs over the Arrow-fed
    scan. Values are exact halves so double sums are engine-identical
    regardless of partial-agg order; the oracle states the source in
    closed form via generate_series."""
    from .sources.pyds import register as register_pyds

    register_pyds(spark)
    df = (
        spark.read.format("synth_rows")
        .option("n", "10000")
        .option("parts", "8")
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("sum_value"),
    )


@register(
    "streaming_dedup_within_watermark",
    oracle="""
select distinct user_id, event_type from events
""",
)
def q_streaming_dedup_within_watermark(spark, sf_dir):
    """State-EVICTING streaming dedup (dropDuplicatesWithinWatermark):
    the unbounded-key production form of streaming_dedup_events —
    watermark-expired keys leave the state store, trading re-admission
    of very-late duplicates for bounded state. Equals batch DISTINCT on
    the finite input; the eviction behavior itself is proven by a
    multi-batch pytest (a beyond-watermark duplicate re-emits)."""
    from .streaming.events_stream import run_streaming_dedup_within_watermark

    return run_streaming_dedup_within_watermark(spark, sf_dir)


@register(
    "token_array_ops",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents)
select doc_id,
       array_to_string(toks[1:3], '_') as first3,
       cast(len(list_distinct(toks)) as bigint) as n_distinct,
       len(list_filter(toks, x -> len(x) >= 8)) > 0 as has_long_token,
       cast(list_sum(list_transform(toks, x -> len(x))) as bigint) as total_chars,
       array_to_string(list_reverse_sort(list_distinct(toks))[1:2], '|') as top2_rev
from t where len(toks) > 0
""",
)
def q_token_array_ops(spark, sf_dir):
    """Higher-order array-function surface in one per-row pass: slice,
    array_distinct, exists, transform+aggregate (fold), sort_array
    desc — the scalar-function breadth the reference lacks entirely
    (SURVEY.md §2.8), all JVM expressions inside whole-stage codegen,
    zero exchanges. Oracle mirrors each via DuckDB list functions."""
    toks = tokens("text")
    total_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0).cast("long"), lambda a, v: a + v
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_join(F.slice(toks, 1, 3), "_").alias("first3"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
            F.exists(toks, lambda x: F.length(x) >= 8).alias("has_long_token"),
            total_chars.alias("total_chars"),
            F.array_join(
                F.slice(F.sort_array(F.array_distinct(toks), asc=False), 1, 2), "|"
            ).alias("top2_rev"),
            F.size(toks).alias("__n"),
        )
        .filter(F.col("__n") > 0)
        .drop("__n")
    )


@register(
    "null_safe_type_pairs",
    oracle="""
with k as (
  select event_type, cast(json_extract_string(props, '$.k') as bigint) as kv
  from events
),
d as (select distinct event_type, kv from k)
select a.event_type as type_a, b.event_type as type_b,
       cast(count(*) as bigint) as n_shared_k
from d a join d b
  on a.kv is not distinct from b.kv and a.event_type < b.event_type
group by 1, 2
""",
)
def q_null_safe_type_pairs(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): event-type
    pairs sharing distinct props.k values, where NULL matches NULL —
    the semantic a plain equi-join silently drops (NULL = NULL is
    UNKNOWN). Distinct-reduced before the self-join so the join input
    is dimension-sized."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    d = ev.select("event_type", k.alias("kv")).distinct()
    a = d.select(F.col("event_type").alias("type_a"), F.col("kv").alias("ka"))
    b = d.select(F.col("event_type").alias("type_b"), F.col("kv").alias("kb"))
    return (
        a.join(b, F.col("ka").eqNullSafe(F.col("kb")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_k"))
    )


@register(
    "filtered_agg_order_stats",
    oracle="""
select o_orderpriority,
       cast(count(*) as bigint) as n_orders,
       cast(count(*) filter (where o_orderstatus = 'F') as bigint) as n_finished,
       cast(sum(cast(o_totalprice as decimal(14,2))) filter (where o_orderstatus = 'F') as double) as finished_revenue,
       cast(count(distinct o_custkey) filter (where o_orderstatus = 'O') as bigint) as open_customers
from orders group by o_orderpriority
""",
)
def q_filtered_agg_order_stats(spark, sf_dir):
    """FILTER-clause aggregates (ANSI; Spark and DuckDB both support
    the syntax): conditional counts/sums/count-distincts in ONE
    aggregation pass instead of N self-joined subqueries — the shape
    every KPI rollup wants. Exact decimal sum → double for the
    cross-engine hash."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_fa")
    return spark.sql("""
select o_orderpriority,
       cast(count(*) as long) as n_orders,
       cast(count(*) filter (where o_orderstatus = 'F') as long) as n_finished,
       cast(sum(cast(o_totalprice as decimal(14,2))) filter (where o_orderstatus = 'F') as double) as finished_revenue,
       cast(count(distinct o_custkey) filter (where o_orderstatus = 'O') as long) as open_customers
from __orders_fa group by o_orderpriority
""")


@register("hll_sketch_mergeability")  # rows-only: sketch binaries are engine-specific
def q_hll_sketch_mergeability(spark, sf_dir):
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): per-type user sketches built in
    one pass, then UNIONED into a global estimate — the property that
    lets 1000 executors sketch independently and combine losslessly
    (and lets a warehouse store per-partition sketches and answer
    any-granularity rollups without rescanning). Output carries exact
    counterparts; tests/test_approx.py asserts the estimates' error
    bounds AND that union-of-sketches == sketch-of-union."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    global_est = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("g")
    )
    return (
        per.select(
            "event_type",
            F.hll_sketch_estimate("sk").cast("long").alias("approx_users"),
            "exact_users",
        )
        .crossJoin(global_est.select(F.col("g").cast("long").alias("global_approx_users")))
    )


#: one PageRank sweep in DuckDB SQL (integer fixed-point, see the
#: Spark side): rank' = 0.15 + 0.85 * Σ_in rank/outdeg, scaled by 1e12
#: with floor division — bit-identical across engines on positive ints.
def _pr_sweep(prev: str, out: str) -> str:
    return f"""
{out} as (
  select n.id,
         150000000000 + (17 * coalesce(sum(p.r // od.d), 0)) // 20 as r
  from nodes n
  left join edges e on e.dst = n.id
  left join {prev} p on p.id = e.src
  left join outdeg od on od.src = e.src
  group by n.id
)"""


@register(
    "pagerank_trade_graph",
    oracle=f"""
with fwd as (
  select distinct o.o_custkey as src, l.l_suppkey + 1000000 as dst
  from orders o join lineitem l on o.o_orderkey = l.l_orderkey
),
edges as (
  select src, dst from fwd
  union
  select dst as src, src as dst from fwd
),
nodes as (select distinct src as id from edges
          union select distinct dst as id from edges),
outdeg as (select src, count(*) as d from edges group by src),
r0 as (select id, 1000000000000 as r from nodes),
{_pr_sweep('r0', 'r1')},
{_pr_sweep('r1', 'r2')},
{_pr_sweep('r2', 'r3')}
select cast(id as bigint) as node_id, cast(r as bigint) as rank_scaled
from r3
order by r desc, id
limit 20
""",
)
def q_pagerank_trade_graph(spark, sf_dir):
    """PageRank (up to 3 power iterations, early-stopped at the exact
    fixpoint) over the customer↔supplier trade graph — the second
    iterative shape beside connected components, now running through
    ``operators.pagerank.pagerank_scaled``: scaled int64 fixed-point
    sweeps (oracle hash-matches bit-for-bit), a scalar L1-delta
    convergence check per sweep, and the shared loop partition-sizing
    policy. Early stop is result-identical to the oracle's fixed 3
    CTE sweeps because an integer fixpoint, once reached, reproduces
    itself (pytest asserts the early-stop on a pre-converged graph).

    Scale shape: edges are distinct (custkey, suppkey) pairs (one
    dedup shuffle); each sweep is edges⋈ranks⋈outdeg + a hash
    aggregate on dst — the standard message-passing join plan."""
    from .operators.pagerank import pagerank_scaled

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    fwd = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    # no distinct after symmetrizing (optimization r14): fwd's src is
    # a custkey (< 1e6) and dst a suppkey + 1e6 (>= 1e6), so the
    # flipped copy's (src, dst) domains are disjoint from fwd's — the
    # union of two internally-distinct, provably-disjoint sets is
    # already distinct, and the old dedup was a full extra shuffle of
    # the symmetrized edge list for zero dropped rows.
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks, _ = pagerank_scaled(edges, max_sweeps=3)
    # materialize the tiny final result (the ranks frame is already
    # lineage-free; top-20 is a TakeOrderedAndProject)
    top = (
        ranks.orderBy(F.col("r").desc(), F.col("id"))
        .limit(20)
        .select(
            F.col("id").cast("long").alias("node_id"),
            F.col("r").cast("long").alias("rank_scaled"),
        )
    )
    rows = top.collect()
    return spark.createDataFrame(rows, top.schema)


@register(
    "scd2_point_in_time",
    oracle="""
with ev as (
  select user_id, ts, event_id,
         cast(json_extract_string(props, '$.k') as bigint) as k
  from events
),
ordered as (
  select user_id, ts, event_id, k,
         lag(k) over (partition by user_id order by ts, event_id) as prev_k
  from ev where k is not null
),
changes as (
  select user_id, ts, event_id, k from ordered
  where prev_k is null or prev_k <> k
),
states as (
  select user_id, ts as valid_from, k as k_state from changes
  qualify row_number() over (partition by user_id, ts
                             order by event_id desc) = 1
),
purchases as (
  select event_id, user_id, ts from events where event_type = 'purchase'
)
select p.event_id, p.user_id, s.k_state, s.valid_from
from purchases p
join states s on s.user_id = p.user_id and s.valid_from <= p.ts
qualify row_number() over (partition by p.event_id
                           order by s.valid_from desc) = 1
""",
)
def q_scd2_point_in_time(spark, sf_dir):
    """Point-in-time (AS OF) lookup against an SCD2 attribute history:
    for every purchase, the props.k state in effect at purchase time.
    The history is the k-change timeline (same build as
    scd2_user_type_history, deduped to one state per (user, instant));
    the lookup runs through operators/asof.py — union + keyed-window
    carry-forward, ONE shuffle of probes+states, never the
    valid_from <= ts range join the oracle uses (correct but
    quadratic-prone; Catalyst would plan it as join + per-key filter).
    The standard feature-store 'no data leakage' join."""
    from pyspark.sql import Window

    from .operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    evk = ev.select("user_id", "ts", "event_id", k.alias("k")).filter(
        F.col("k").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        evk.withColumn("prev_k", F.lag("k").over(w))
        .filter(F.col("prev_k").isNull() | (F.col("prev_k") != F.col("k")))
    )
    w_ts = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    states = (
        changes.withColumn("__rn", F.row_number().over(w_ts))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.col("k").alias("k_state"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        purchases,
        states,
        left_key="user_id",
        right_key="user_id",
        left_time="ts",
        right_time="valid_from",
        payload_cols=["k_state", "valid_from"],
        how="inner",
    )
    return out.select("event_id", "user_id", "k_state", "valid_from")


@register(
    "bpe_top_merges",
    oracle=f"""
with w as (
  select unnest({SQL_TOKS}) as word from documents
),
p as (
  select substr(word, g, 2) as pair
  from w, unnest(generate_series(1, len(word) - 1)) t(g)
  where len(word) >= 2
)
select pair, cast(count(*) as bigint) as n
from p group by pair
order by n desc, pair
limit 20
""",
)
def q_bpe_top_merges(spark, sf_dir):
    """The inner loop of distributed BPE-tokenizer TRAINING: count all
    adjacent symbol pairs across the corpus and surface the top merge
    candidates (iteration 1 counts character pairs; later iterations
    re-run over re-segmented symbols). One map-side explode of
    per-word pair arrays + a hash aggregate + TakeOrderedAndProject —
    at 100 TB each executor counts its shard and only (pair, count)
    partials shuffle, which is why BPE training parallelizes. Pair
    extraction is a higher-order sequence/transform expression (no
    Python)."""
    toks = tokens("text")
    pairs_per_doc = F.flatten(
        F.transform(
            F.filter(toks, lambda w: F.length(w) >= 2),
            lambda w: F.transform(
                F.sequence(F.lit(1), F.length(w) - 1),
                lambda i: w.substr(i, F.lit(2)),
            ),
        )
    )
    from .sources.readers import spread_small_scan

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(pairs_per_doc).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(20)
    )


@register(
    "contrastive_negatives",
    oracle="""
with n as (select count(*) as n_docs from documents),
anchors as (select doc_id from documents),
negs as (
  select a.doc_id,
         g.j as neg_rank,
         (a.doc_id
          + 1
          + cast(concat('0x', substr(md5(concat(cast(a.doc_id as varchar), ':neg:', cast(g.j as varchar))), 1, 7)) as bigint)
            % (n.n_docs - 1)
         ) % n.n_docs as neg_doc_id
  from anchors a
  cross join n
  cross join (select unnest(generate_series(1, 3)) as j) g
)
select doc_id, cast(neg_rank as int) as neg_rank,
       cast(neg_doc_id as bigint) as neg_doc_id
from negs
""",
)
def q_contrastive_negatives(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    anchor doc draws 3 pseudo-random negatives via the portable md5
    trick, offset-shifted so a negative can never equal its anchor
    ((id + 1 + h mod (N−1)) mod N). The corpus size is a 1-row
    aggregate broadcast onto a pure map pass — re-seedable via the
    salt, identical across engines/runs/parallelism, which is what
    makes training-data generation reproducible. At 100 TB the same
    shape holds: no shuffle beyond the scalar broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    ranks = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("neg_rank")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":neg:"),
                    F.col("neg_rank").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "n_docs", ranks)
        .select(
            "doc_id",
            F.col("neg_rank").cast("int").alias("neg_rank"),
            (
                (F.col("doc_id") + 1 + h % (F.col("n_docs") - 1)) % F.col("n_docs")
            ).cast("long").alias("neg_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# round 5: cluster-aware curation + incremental ingest + attribution
# ---------------------------------------------------------------------------

#: shared recursive-CTE text: near-dup components over documents
#: (exact-dup keeper edges ∪ jaccard>=0.2 edges — identical to the
#: near_dup_components oracle), then completed with singleton clusters.
_SQL_COMPONENT_CTES = f"""{SQL_JACCARD_CTES},
exact_pairs as (
  select keeper as a, doc_id as b from (
    select doc_id, min(doc_id) over (partition by md5(text)) as keeper
    from documents
  ) where doc_id <> keeper
),
e0 as (
  select da as a, db as b from jaccard_pairs where jaccard >= 0.2
  union
  select a, b from exact_pairs
),
e as (select a, b from e0 union select b as a, a as b from e0),
reach(node, r) as (
  select a, a from e
  union
  select e.b, reach.r from reach join e on e.a = reach.node
),
comp as (
  select cast(node as bigint) as doc_id, cast(min(r) as bigint) as component
  from reach group by node
),
call as (
  select d.doc_id, coalesce(c.component, d.doc_id) as component
  from documents d left join comp c on d.doc_id = c.doc_id
)"""

#: quality_score expression over a toks list column (doc_quality's
#: exact fixed-order double arithmetic)
_SQL_QUALITY = """
0.4 * least(1.0, cast(len(toks) as double) / 50.0)
  + 0.3 * (case when len(toks) > 0
           then cast(len(list_distinct(toks)) as double) / cast(len(toks) as double)
           else 0.0 end)
  + 0.3 * (1.0 - (case when len(toks) > 0
           then cast(len(list_filter(toks, x -> list_contains({sw}, x))) as double)
                / cast(len(toks) as double)
           else 0.0 end))
""".format(sw=_SW)


def _doc_components(spark, sf_dir):
    """doc_id → component over the exact∪near-dup edge set, singletons
    included (a doc with no duplicate is its own cluster) — the shared
    Spark half of the cluster-granular curation queries."""
    from .operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_dup_edges(docs)).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )
    return docs, docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


@register(
    "dedup_canonical_docs",
    headline=True,
    oracle=f"""
with recursive {_SQL_COMPONENT_CTES},
qt as (select doc_id, {SQL_TOKS} as toks from documents),
q as (select doc_id, {_SQL_QUALITY} as quality_score from qt),
ranked as (
  select call.component, call.doc_id, q.quality_score,
         count(*) over (partition by call.component) as n_members
  from call join q on call.doc_id = q.doc_id
)
select cast(component as bigint) as component,
       cast(doc_id as bigint) as canonical_doc_id,
       cast(n_members as bigint) as n_members,
       round(quality_score, 6) as canonical_quality
from ranked
qualify row_number() over (partition by component
                           order by quality_score desc, doc_id) = 1
""",
)
def q_dedup_canonical_docs(spark, sf_dir):
    """Cluster-canonical dedup — the step AFTER pair finding and
    component labeling: per duplicate cluster (singletons included),
    KEEP exactly one representative, chosen by quality score (ties →
    lowest doc_id). This is the curation decision an LLM-data pipeline
    actually ships: near-dup pairs → clusters → one canonical doc per
    cluster, so the training set keeps the best-written variant
    instead of an arbitrary one.

    Scale shape: reuses the blocked-jaccard + iterative-components
    plans (both audited sub-quadratic), then ONE window over docs keyed
    by component for the argmax — no new shuffle class. Quality is
    fixed-order double arithmetic (doc_quality), so the cross-engine
    argmax ordering is deterministic."""
    from pyspark.sql import Window

    from .operators.textops import doc_quality

    docs, comp_all = _doc_components(spark, sf_dir)
    q = doc_quality(docs).select("doc_id", "quality_score")
    joined = comp_all.join(q, "doc_id")
    w = Window.partitionBy("component")
    wr = w.orderBy(F.col("quality_score").desc(), F.col("doc_id"))
    return (
        joined.withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("doc_id").cast("long").alias("canonical_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.round("quality_score", 6).alias("canonical_quality"),
        )
    )


@register(
    "leakage_safe_split",
    oracle=f"""
with recursive {_SQL_COMPONENT_CTES}
select cast(doc_id as bigint) as doc_id,
       cast(component as bigint) as component,
       case when substr(md5(cast(component as varchar)), 1, 1) between '0' and 'b' then 'train'
            when substr(md5(cast(component as varchar)), 1, 1) between 'c' and 'd' then 'val'
            else 'test' end as split
from call
""",
)
def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: assignment is deterministic
    per duplicate CLUSTER, not per doc — near-duplicates can never
    straddle train and test (the benchmark-contamination failure mode
    deterministic_split alone cannot prevent). Same md5-nibble
    bucketing as deterministic_split (12/2/2 → 75/12.5/12.5%), keyed
    by the cluster's stable min-doc_id label; singleton docs hash by
    their own id, so the split converges to per-doc hashing as the
    dup rate → 0."""
    _docs, comp_all = _doc_components(spark, sf_dir)
    nib = F.substring(F.md5(F.col("component").cast("string").cast("binary")), 1, 1)
    split = (
        F.when(nib.between("0", "b"), "train")
        .when(nib.between("c", "d"), "val")
        .otherwise("test")
    )
    return comp_all.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        split.alias("split"),
    )


@register(
    "incremental_dedup_new_batch",
    oracle="""
with thr as (select max(doc_id) // 2 as t from documents),
h as (select doc_id, md5(text) as ch from documents),
hist as (select distinct ch from h, thr where doc_id < t),
batch as (select doc_id, ch from h, thr where doc_id >= t),
batch_first as (
  select doc_id, ch from batch
  qualify row_number() over (partition by ch order by doc_id) = 1
)
select cast(b.doc_id as bigint) as doc_id, b.ch as content_hash
from batch_first b
where not exists (select 1 from hist where hist.ch = b.ch)
""",
)
def q_incremental_dedup_new_batch(spark, sf_dir):
    """Incremental ingest dedup — the production shape for a
    continuously-crawled corpus: a new batch is admitted only where
    its content hash is (a) unseen in the HISTORICAL fingerprint store
    and (b) first within the batch itself. Here 'history' is the lower
    half of doc_ids and the 'batch' the upper half, derived from one
    1-row max aggregate so the query is SF-independent.

    Scale shape: the fingerprint store is a hash-keyed table one md5
    wide per historical doc (bucketed on the hash in production, so
    the anti join co-locates); the batch-first window and the anti
    join shuffle only the NEW batch, never the store. The left-anti
    side carries no broadcast hint — history is the scaling side."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(F.expr("max(doc_id) div 2").alias("t"))
    h = docs.select("doc_id", F.md5("text").alias("ch")).crossJoin(F.broadcast(thr))
    hist = h.filter(F.col("doc_id") < F.col("t")).select("ch").distinct()
    batch = h.filter(F.col("doc_id") >= F.col("t"))
    w = Window.partitionBy("ch").orderBy("doc_id")
    batch_first = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return batch_first.join(hist, "ch", "left_anti").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("ch").alias("content_hash"),
    )


@register(
    "attribution_last_touch",
    oracle="""
with u as (
  select user_id, ts, event_id,
         case when event_type = 'click' then event_id end as click_id,
         case when event_type = 'click' then ts end as click_ts
  from events where event_type in ('click', 'purchase')
),
m as (
  select user_id, ts, event_id, click_id,
         last_value(click_id ignore nulls) over w as attr_click_id,
         last_value(click_ts ignore nulls) over w as attr_click_ts
  from u
  window w as (partition by user_id
               order by ts, (click_id is not null) desc, event_id
               rows between unbounded preceding and current row)
)
select cast(event_id as bigint) as purchase_id,
       cast(user_id as bigint) as user_id, ts,
       cast(case when attr_click_ts >= ts - interval 7 days
                 then attr_click_id end as bigint) as attributed_click_id,
       cast(case when attr_click_ts >= ts - interval 7 days
                 then epoch_us(ts) - epoch_us(attr_click_ts) end as bigint)
         as attribution_age_us
from m where click_id is null
""",
)
def q_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution with a 7-day lookback: each purchase is
    attributed to the same user's most recent click at-or-before the
    purchase instant (same-instant clicks sort before the purchase —
    the deterministic tie rule, identical in the oracle's window), or
    to nothing if the newest prior click is older than 7 days.

    Scale shape: the as-of carry-forward trick (union both event roles,
    ONE keyed window with last(ignorenulls)) — |clicks|+|purchases|
    shuffled once on user_id, no range-join explosion, no second pass
    for the lookback bound (it's a post-window filter on the carried
    timestamp)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("click_id"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("click_id").isNotNull().desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = u.select(
        "user_id",
        "ts",
        "event_id",
        "click_id",
        F.last("click_id", ignorenulls=True).over(w).alias("attr_click_id"),
        F.last("click_ts", ignorenulls=True).over(w).alias("attr_click_ts"),
    )
    in_window = F.col("attr_click_ts") >= F.col("ts") - F.expr("interval 7 days")
    return m.filter(F.col("click_id").isNull()).select(
        F.col("event_id").cast("long").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        F.when(in_window, F.col("attr_click_id")).cast("long").alias("attributed_click_id"),
        F.when(
            in_window,
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("attr_click_ts").cast("timestamp")),
        ).cast("long").alias("attribution_age_us"),
    )


@register(
    "boilerplate_scrub",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
base as (
  select doc_id, toks,
         case when len(toks) > 0
              then cast(ceil(len(toks) / 2.0) as bigint) else 0 end as n_segments
  from t
),
chunks as (
  select doc_id, g as pos,
         array_to_string(toks[(g*2+1):(g*2+2)], ' ') as seg
  from base, unnest(generate_series(0, cast(n_segments as int) - 1)) as s(g)
  where n_segments > 0
),
dfc as (select seg, count(distinct doc_id) as seg_df from chunks group by seg),
kept as (
  select c.doc_id, c.pos, c.seg from chunks c
  join dfc on c.seg = dfc.seg
  where dfc.seg_df <= 20
),
reassembled as (
  select doc_id, string_agg(seg, ' ' order by pos) as clean_text,
         count(*) as n_kept
  from kept group by doc_id
)
select cast(b.doc_id as bigint) as doc_id,
       coalesce(r.clean_text, '') as clean_text,
       cast(b.n_segments as bigint) as n_segments,
       cast(b.n_segments - coalesce(r.n_kept, 0) as bigint) as n_removed
from base b left join reassembled r on b.doc_id = r.doc_id
""",
)
def q_boilerplate_scrub(spark, sf_dir):
    """Corpus-frequent segment removal (boilerplate scrub) over the
    documents table: width-2 token segments, drop those appearing in
    more than 20 documents, reassemble the survivors in order. Width 2
    + df cap 20 are sized to this corpus's 31-token vocabulary so the
    hot-segment path genuinely fires (wider segments are unique here
    and nothing would be scrubbed); production uses width 8-16 and a
    df cap scaled to corpus size."""
    from .operators.textops import boilerplate_segment_scrub

    return boilerplate_segment_scrub(
        load_table(spark, sf_dir, "documents"), width=2, max_df=20
    )


@register("mg_heavy_hitter_tokens")  # rows-only: sketch contents are
# partitioning-dependent by construction (pytest asserts the MG error
# bounds + merge consistency instead)
def q_mg_heavy_hitter_tokens(spark, sf_dir):
    """Misra-Gries frequent-token sketch over the exploded corpus
    token stream (k=16): bounded-memory heavy hitters without the
    exact groupBy's full-vocabulary shuffle — the mergeable-summaries
    companion to the exact heavy_hitter_customers and token_top20
    queries. est_count undercounts by ≤ n/(k+1); anything more
    frequent is guaranteed present (tests/test_sketches.py)."""
    from .functions.text import tokens
    from .operators.sketches import misra_gries_topk

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens("text")).alias("token"))
    )
    return misra_gries_topk(toks, "token", k=16)


@register(
    "multimodal_audio_decode",
    oracle="""
select cast(doc_id as bigint) as asset_id,
       1 as n_channels,
       8000 as sample_rate,
       16 as bits,
       cast(400 + 4 * (doc_id % 100) as double) / 8000.0 as duration_sec,
       cast(abs((doc_id * 7) % 20000 - 10000) as double) / 32768.0 as mean_abs,
       cast(44 + 2 * (400 + 4 * (doc_id % 100)) as bigint) as n_bytes
from documents
""",
)
def q_multimodal_audio_decode(spark, sf_dir):
    """Audio counterpart of multimodal_decode: REAL PCM-WAV bytes
    (RIFF header + constant-amplitude samples, deterministically
    generated per doc_id) parsed by the pure-Python decoder behind the
    Arrow-batched hook; channels/rate/bits/duration/loudness/size all
    reduce to closed-form arithmetic the DuckDB oracle states exactly
    (amplitude/32768 and n/8000 are exact binary scales, so the
    doubles hash-match bit-for-bit)."""
    from .operators.multimodal import extract_audio_features, synthetic_wav_assets

    docs = load_table(spark, sf_dir, "documents")
    return extract_audio_features(synthetic_wav_assets(docs))


# ---------------------------------------------------------------------------
# substring-level cross-doc dedup (ExactSubstr, Lee et al. 2022) — round 6
# ---------------------------------------------------------------------------

_SUBSTR_W = 20  # sized to this corpus's 10-99-token docs; production: 50

_SUBSTR_WINS = f"""
toks as (select doc_id, {SQL_TOKS} as t from documents),
wins as (
  select doc_id, i as start_pos,
         md5(array_to_string(t[i:i+{_SUBSTR_W - 1}], ' ')) as wkey
  from toks, unnest(range(1, len(t) - {_SUBSTR_W - 2})) as u(i)
),
flagged as (
  select doc_id, start_pos,
         count(distinct doc_id) over (partition by wkey) as n_docs,
         row_number() over (partition by wkey order by doc_id, start_pos) as rn
  from wins
)"""


def _substr_islands_sql(source: str) -> str:
    """Gaps-and-islands SQL over an occurrence CTE ``source``
    (doc_id, start_pos) — merges equal-width windows into maximal
    spans, mirroring operators.substring._merge_islands."""
    return f"""
isl as (
  select doc_id, start_pos,
         sum(case when prev is null or start_pos > prev + {_SUBSTR_W}
                  then 1 else 0 end)
           over (partition by doc_id order by start_pos
                 rows unbounded preceding) as island
  from (select doc_id, start_pos,
               lag(start_pos) over (partition by doc_id order by start_pos)
                 as prev
        from {source})
),
spans as (
  select doc_id, island,
         min(start_pos) as span_start,
         max(start_pos) + {_SUBSTR_W - 1} as span_end,
         count(*) as n_windows
  from isl group by doc_id, island
)"""


@register(
    "substring_dedup_spans",
    oracle=f"""
with {_SUBSTR_WINS},
rep as (select doc_id, start_pos from flagged where n_docs >= 2),
{_substr_islands_sql("rep")}
select cast(doc_id as bigint) as doc_id,
       cast(span_start as bigint) as span_start,
       cast(span_end as bigint) as span_end,
       cast(n_windows as bigint) as n_windows
from spans
""",
    headline=True,
)
def q_substring_dedup_spans(spark, sf_dir):
    """Maximal cross-document repeated substrings (ExactSubstr
    diagnostic surface): every token range covered by 20-token windows
    appearing verbatim in >= 2 documents. md5 window keys, so the
    DuckDB oracle value-checks the whole pipeline."""
    from .operators.substring import repeated_substring_spans

    return repeated_substring_spans(
        load_table(spark, sf_dir, "documents"), w=_SUBSTR_W
    )


@register(
    "substring_scrub_keep_first",
    oracle=f"""
with {_SUBSTR_WINS},
removable as (
  select doc_id, start_pos from flagged where n_docs >= 2 and rn > 1
),
{_substr_islands_sql("removable")},
pos_toks as (
  select doc_id, p as pos, t[p] as tk
  from toks, unnest(range(1, len(t) + 1)) as u(p)
),
kept as (
  select pt.doc_id, pt.pos, pt.tk from pos_toks pt
  where not exists (select 1 from spans s
                    where s.doc_id = pt.doc_id
                      and pt.pos between s.span_start and s.span_end)
),
reassembled as (
  select doc_id, string_agg(tk, ' ' order by pos) as clean_text,
         count(*) as n_kept
  from kept group by doc_id
)
select cast(tk.doc_id as bigint) as doc_id,
       coalesce(r.clean_text, '') as clean_text,
       cast(len(tk.t) as bigint) as n_tokens,
       cast(len(tk.t) - coalesce(r.n_kept, 0) as bigint) as n_removed
from toks tk left join reassembled r on tk.doc_id = r.doc_id
""",
)
def q_substring_scrub_keep_first(spark, sf_dir):
    """ExactSubstr corpus rewrite: drop all-but-first occurrence of
    every cross-doc duplicated 20-token run and reassemble survivors
    in order (Lee et al. 2022 remove-all-but-one semantics, keeper =
    the window group's (doc_id, start_pos) minimum)."""
    from .operators.substring import scrub_repeated_substrings

    return scrub_repeated_substrings(
        load_table(spark, sf_dir, "documents"), w=_SUBSTR_W
    )


@register(
    "multimodal_image_headers",
    oracle="""
select cast(doc_id as bigint) as asset_id,
       case cast(doc_id % 3 as int) when 0 then 'png'
                                    when 1 then 'jpeg'
                                    else 'gif' end as format,
       cast(16 + doc_id % 50 as int) as width,
       cast(9 + doc_id % 40 as int) as height,
       8 as bit_depth,
       3 as n_channels
from documents
""",
)
def q_multimodal_image_headers(spark, sf_dir):
    """Header-only image metadata extraction (the cheap first pass of
    multimodal curation): dimensions/bit depth/channels read straight
    from PNG IHDR, the JPEG SOF marker walk, and the GIF logical
    screen descriptor — no pixel decode, no codec. Assets cycle real
    PNG (complete file, CRC-correct chunks) / JPEG marker stream /
    GIF89a with closed-form dimensions the oracle states exactly."""
    from .operators.multimodal import (
        extract_image_headers,
        synthetic_image_header_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_image_headers(synthetic_image_header_assets(docs))


# shared SQL for the hashed-n-gram linear quality model (round 6):
# bucket = first 2 md5 hex chars (0..255), weight = ((b*37)%21-10)/16
# — exact dyadic weights, so the per-doc sum is order-independent and
# bit-identical across engines; /n and +bias are single IEEE ops.
_MODEL_LOGIT_SQL = f"""
t as (select doc_id, lang, {SQL_TOKS} as toks from documents),
f as (
  select doc_id, lang,
         list_concat(
           toks,
           list_transform(range(1, len(toks)),
                          i -> concat(toks[i], ' ', toks[i + 1]))
         ) as feats
  from t
),
scored as (
  select doc_id, lang,
         cast(len(feats) as bigint) as n_feats,
         0.125 + case when len(feats) > 0
           then list_sum(list_transform(feats,
                  x -> ((cast(concat('0x', substr(md5(x), 1, 2)) as int) % 256)
                        * 37 % 21 - 10) / 16.0)) / len(feats)
           else 0.0 end as logit
  from f
)"""

#: heuristic C4/Gopher gate label as CTEs over the _MODEL_LOGIT_SQL
#: ``t`` tokens (shared by the AUC and reliability-bin oracles).
_HEUR_LABEL_CTES = f"""base as (select doc_id, lang,
                cast(len(toks) as bigint) as n_tokens,
                cast(list_sum(list_transform(toks, x -> length(x))) as bigint) as sum_word_len,
                cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as bigint) as sw_hits
         from t),
wc as (select doc_id, w, count(*) as n
       from (select doc_id, unnest({SQL_TOKS}) as w from documents)
       group by doc_id, w),
prof as (select doc_id, cast(max(n) as bigint) as max_count from wc group by doc_id),
heur as (
  select b.doc_id,
         (case when b.n_tokens < 10 then 'too_short'
              when b.n_tokens > 5000 then 'too_long'
              when (cast(b.sum_word_len as double) / cast(b.n_tokens as double) < 2.0
                    or cast(b.sum_word_len as double) / cast(b.n_tokens as double) > 12.0)
                   then 'word_length'
              when cast(b.sw_hits as double) / cast(b.n_tokens as double) < 0.05
                   then 'low_stopword'
              when cast(p.max_count as double) / cast(b.n_tokens as double) > 0.2
                   then 'repetitive'
              end) is null as label
  from base b left join prof p using (doc_id)
)"""


@register(
    "model_quality_scores",
    oracle=f"""
with {_MODEL_LOGIT_SQL}
select doc_id, n_feats, logit, logit >= 0.0 as model_pass
from scored
""",
    headline=True,
)
def q_model_quality_scores(spark, sf_dir):
    """Model-based quality scoring: fastText/CCNet-style linear
    classifier over hashed unigram+bigram features with the weight
    vector broadcast into the plan as a literal array — no keyed
    shuffle, zero Python, whole-stage codegen end to end (one
    round-robin spread fires only when the local scan is narrower
    than the session width; a no-op on cluster-width scans). Fixed dyadic weights
    make the logit exact, so the oracle value-checks every score."""
    from .operators.curation import hashed_feature_logit

    return hashed_feature_logit(load_table(spark, sf_dir, "documents"))


@register(
    "model_quality_gate",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
base as (select doc_id, lang,
                cast(len(toks) as bigint) as n_tokens,
                cast(list_sum(list_transform(toks, x -> length(x))) as bigint) as sum_word_len,
                cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as bigint) as sw_hits
         from t),
wc as (select doc_id, w, count(*) as n
       from (select doc_id, unnest({SQL_TOKS}) as w from documents)
       group by doc_id, w),
prof as (select doc_id, cast(max(n) as bigint) as max_count from wc group by doc_id),
heur as (
  select b.doc_id, b.lang, b.n_tokens,
         case when b.n_tokens < 10 then 'too_short'
              when b.n_tokens > 5000 then 'too_long'
              when (cast(b.sum_word_len as double) / cast(b.n_tokens as double) < 2.0
                    or cast(b.sum_word_len as double) / cast(b.n_tokens as double) > 12.0)
                   then 'word_length'
              when cast(b.sw_hits as double) / cast(b.n_tokens as double) < 0.05
                   then 'low_stopword'
              when cast(p.max_count as double) / cast(b.n_tokens as double) > 0.2
                   then 'repetitive'
              end as reason
  from base b left join prof p using (doc_id)
)
select h.doc_id, h.lang, h.n_tokens, s.logit,
       coalesce(h.reason,
                case when s.logit < 0.0 then 'model_score' end) as reason,
       h.reason is null and s.logit >= 0.0 as keep
from heur h join scored s using (doc_id)
""",
)
def q_model_quality_gate(spark, sf_dir):
    """Heuristic ∘ model quality gate: C4/Gopher rules first, the
    learned linear score as final arbiter — reason keeps the heuristic
    label, 'model_score' marks model-only rejections."""
    from .operators.curation import model_quality_gate

    return model_quality_gate(load_table(spark, sf_dir, "documents"))


@register(
    "triangle_count_cosupply",
    oracle="""
with ps as (select distinct l_partkey, l_suppkey from lineitem),
pn as (select ps.l_partkey, ps.l_suppkey, s.s_nationkey
       from ps join supplier s on ps.l_suppkey = s.s_suppkey),
edges as (select distinct a.l_suppkey as u, b.l_suppkey as v,
                          a.s_nationkey as nk
          from pn a join pn b
            on a.l_partkey = b.l_partkey
           and a.s_nationkey = b.s_nationkey
           and a.l_suppkey < b.l_suppkey),
tri as (select e1.u as a, e1.v as b, e2.v as c, e1.nk
        from edges e1
        join edges e2 on e1.v = e2.u
        join edges e3 on e1.u = e3.u and e2.v = e3.v),
e_cnt as (select nk, count(*) as n_edges from edges group by nk),
t_cnt as (select nk, count(*) as n_triangles from tri group by nk)
select n.n_name as nation,
       cast(e_cnt.n_edges as bigint) as n_edges,
       cast(coalesce(t_cnt.n_triangles, 0) as bigint) as n_triangles
from e_cnt
left join t_cnt using (nk)
join nation n on n.n_nationkey = e_cnt.nk
order by nation
""",
)
def q_triangle_count_cosupply(spark, sf_dir):
    """Triangle counting (operators/graph.py) over the same-nation
    co-supply graph: suppliers are adjacent when they supply the same
    part from the same nation (the nation block keeps co-occurrence
    selective — unblocked co-supply is ~26 suppliers/part, a
    quadratic clique per part). Output: per-nation edge + triangle
    counts (edges never cross nations, so triangles don't either).

    Scale shape: the Spark plan is DEGREE-ORDERED enumeration — each
    edge oriented low→high (degree, id) rank, wedges built only from
    oriented out-edges (out-degree O(sqrt m) per vertex regardless of
    hub skew), closing edges checked with a left-semi join so no
    triangle is double-counted and no fan-out survives the check. The
    oracle's naive 3-way self-join is the same count but would melt on
    a skewed graph; the oriented plan is the 100 TB shape. Exactly-once
    per triangle holds under either (id- or rank-) ordering, so the
    per-nation counts match."""
    from .operators.graph import triangles

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    pn = ps.join(
        F.broadcast(supp.select("s_suppkey", "s_nationkey")),
        ps["l_suppkey"] == supp["s_suppkey"],
    ).select("l_partkey", "l_suppkey", "s_nationkey")
    a, b = pn.alias("a"), pn.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("u"),
            F.col("b.l_suppkey").alias("v"),
            F.col("a.s_nationkey").alias("nk"),
        )
        .distinct()
    )
    node_nation = pn.select(F.col("l_suppkey").alias("a"), "s_nationkey").distinct()
    e_cnt = edges.groupBy("nk").agg(F.count(F.lit(1)).alias("n_edges"))
    t_cnt = (
        triangles(edges.select("u", "v"))
        .join(node_nation, "a")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        e_cnt.join(t_cnt, "nk", "left")
        .join(F.broadcast(nation), F.col("nk") == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("nation")
    )


@register(
    "inverted_index_postings",
    oracle=f"""
with wc as (
  select doc_id, w, count(*) as n
  from (select doc_id, unnest({SQL_TOKS}) as w from documents)
  group by doc_id, w
)
select w as term,
       cast(count(*) as bigint) as df,
       cast(sum(n) as bigint) as tf,
       array_to_string(list_slice(list(doc_id order by doc_id), 1, 5), ',')
         as posting_head
from wc
group by w
order by df desc, term
limit 50
""",
)
def q_inverted_index_postings(spark, sf_dir):
    """Inverted-index build (the search/retrieval-side corpus op): for
    the 50 highest-document-frequency terms, document frequency, total
    term frequency, and the head of the sorted posting list. One
    explode + two hash aggregations (map-side partial combine on both);
    posting lists come from collect_list + sort_array — Spark's
    collect_list order is partition-dependent, so the sort (and the
    5-element slice) is what makes the output deterministic. At 100 TB
    the per-term posting list itself can exceed executor memory, which
    is why only the bounded head is materialized per term and the full
    index would be written sorted-bucketed by term instead."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    posting = F.slice(F.sort_array(F.collect_list("doc_id")), 1, 5)
    return (
        wc.groupBy(F.col("w").alias("term"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("n").cast("long").alias("tf"),
            F.array_join(
                F.transform(posting, lambda x: x.cast("string")), ","
            ).alias("posting_head"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )


@register(
    "key_skew_profile",
    oracle="""
with kc as (select o_custkey as key, count(*) as c from orders group by 1),
pct as (select quantile_cont(c, 0.50) as p50,
               quantile_cont(c, 0.90) as p90,
               quantile_cont(c, 0.99) as p99,
               cast(max(c) as double) as mx
        from kc),
tops as (select key, c from kc order by c desc, key limit 5)
select 'p50' as kind, cast(null as bigint) as key, p50 as value from pct
union all
select 'p90', cast(null as bigint), p90 from pct
union all
select 'p99', cast(null as bigint), p99 from pct
union all
select 'max', cast(null as bigint), mx from pct
union all
select 'top', key, cast(c as double) from tops
order by kind, key nulls first
""",
)
def q_key_skew_profile(spark, sf_dir):
    """Shuffle-skew diagnostics — the operational primitive behind
    every salting/AQE decision in this repo: the per-key row-count
    distribution of a join/agg key (orders.o_custkey here) as p50/p90/
    p99/max quantiles plus the 5 hottest keys. One hash aggregate over
    the key, then a 1-row percentile aggregate + a top-5
    TakeOrderedAndProject over the (already tiny) per-key counts —
    reading the profile costs one shuffle of key cardinality, not data
    volume, so it's cheap to run BEFORE committing to a partitioning
    at 100 TB. Spark `percentile` and DuckDB `quantile_cont` are both
    linear-interpolating → bit-identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    kc = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    pct = kc.agg(
        F.expr("percentile(c, 0.50)").alias("p50"),
        F.expr("percentile(c, 0.90)").alias("p90"),
        F.expr("percentile(c, 0.99)").alias("p99"),
        F.max("c").cast("double").alias("mx"),
    )
    quant = pct.selectExpr(
        "stack(4, 'p50', p50, 'p90', p90, 'p99', p99, 'max', mx) as (kind, value)"
    ).select("kind", F.lit(None).cast("long").alias("key"), "value")
    tops = (
        kc.orderBy(F.col("c").desc(), "key")
        .limit(5)
        .select(F.lit("top").alias("kind"), "key", F.col("c").cast("double").alias("value"))
    )
    return quant.unionAll(tops).orderBy("kind", F.col("key").asc_nulls_first())


@register(
    "dsir_importance_weights",
    oracle=f"""
with t as (select doc_id, lang, {SQL_TOKS} as toks from documents),
f as (select doc_id, lang,
        list_concat(toks,
          list_transform(range(1, len(toks)),
                         i -> concat(toks[i], ' ', toks[i + 1]))) as feats
      from t),
fb as (select doc_id, lang,
              unnest(list_transform(feats,
                     x -> cast(concat('0x', substr(md5(x), 1, 2)) as int) % 256)) as b
       from f),
cnt as (select b, count(*) as nr,
               sum(case when lang = 'en' then 1 else 0 end) as nt
        from fb group by b),
tot as (select cast(sum(nr) as double) as tr, cast(sum(nt) as double) as tt from cnt),
lr as (select b,
              cast(round((ln((nt + 1.0) / (tt + 256.0))
                        - ln((nr + 1.0) / (tr + 256.0))) * 1000000.0) as bigint) as lrs
       from cnt, tot),
s as (select fb.doc_id, count(*) as n_feats, sum(lr.lrs) as ssum
      from fb join lr using (b) group by fb.doc_id)
select d.doc_id,
       cast(coalesce(s.n_feats, 0) as bigint) as n_feats,
       cast(coalesce(s.ssum, 0) as double) / 1000000.0 as log_weight,
       coalesce(s.ssum, 0) >= 0 as target_leaning
from documents d
left join s using (doc_id)
""",
    headline=True,
)
def q_dsir_importance_weights(spark, sf_dir):
    """DSIR importance weighting (Xie et al. 2023) — the standard
    data-SELECTION primitive beside the quality-FILTER family: score
    every document by how target-like its hashed n-gram features are
    (target = the lang='en' slice here; in production, a trusted
    high-quality corpus). Two-phase plan: one bucket-count shuffle
    (<= 256 rows per task after map-side combine) fits the smoothed
    target/raw unigram models, then a keyed-shuffle-free scoring pass with
    the scaled log-ratio table as a plan literal. Per-doc weights are
    exact int64 sums of 1e-6-scaled per-bucket log-ratios —
    order-independent, so the oracle hash-matches despite ln() in the
    pipeline (the 256 ln calls happen once per model row, not per
    doc)."""
    from .operators.curation import dsir_log_weights

    return dsir_log_weights(load_table(spark, sf_dir, "documents"))


def _km_sweep(prev: str, out: str, d: int = 64) -> str:
    """One Lloyd sweep in DuckDB SQL: assign every vector to its
    nearest {prev} centroid (exact scaled-int distances, centroid-id
    tiebreak), then per-(cluster, dim) rounded mean; empty clusters
    keep their previous centroid."""
    return f"""
{out}_a as (
  select v.vec_id, v.v, c.centroid_id,
         list_sum(list_transform(range(1, {d + 1}),
                  i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i]))) as dist2
  from vecs v cross join {prev} c
  qualify row_number() over (partition by v.vec_id
                             order by dist2, c.centroid_id) = 1
),
{out}_dims as (
  select centroid_id, d, cast(round(sum(v[d]) / count(*)) as bigint) as cd
  from (select centroid_id, unnest(range(1, {d + 1})) as d, v from {out}_a)
  group by centroid_id, d
),
{out} as materialized (
  select p.centroid_id, coalesce(n.c, p.c) as c
  from {prev} p
  left join (select centroid_id, list(cd order by d) as c
             from {out}_dims group by centroid_id) n
    using (centroid_id)
)"""


@register(
    "kmeans_fit_embeddings",
    oracle=f"""
with vecs as (
  select vec_id,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
c0 as (select vec_id as centroid_id, v as c from vecs where vec_id < 8),
{_km_sweep('c0', 'c1')},
{_km_sweep('c1', 'c2')},
{_km_sweep('c2', 'c3')},
fin as (
  select v.vec_id, c.centroid_id,
         list_sum(list_transform(range(1, 65),
                  i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i]))) as dist2
  from vecs v cross join c3 c
  qualify row_number() over (partition by v.vec_id
                             order by dist2, c.centroid_id) = 1
)
select cast(c.centroid_id as bigint) as centroid_id,
       cast(coalesce(s.n_members, 0) as bigint) as n_members,
       coalesce(s.inertia, 0.0) as inertia,
       cast(list_sum(c.c) as bigint) as c_checksum
from c3 c
left join (select centroid_id, count(*) as n_members,
                  cast(sum(dist2) as double) as inertia
           from fin group by centroid_id) s
  using (centroid_id)
order by centroid_id
""",
)
def q_kmeans_fit_embeddings(spark, sf_dir):
    """Distributed k-means fit (operators/kmeans.py): 3 Lloyd sweeps
    over the embedding corpus from deterministic seeds, summarized as
    per-cluster (size, inertia, centroid checksum) — the checksum pins
    all 64 coordinates of every centroid, so the oracle value-checks
    the full trained model against DuckDB's unrolled CTE sweeps.

    Scale shape per sweep: zero-shuffle assignment (k x d centroid
    literal, exact int64 distances inside codegen) + one map-side-
    combined shuffle of <= k*d rows per task for the update; the
    driver holds k*d longs, never data. Early-stops at the exact
    integer fixpoint (result-identical to the oracle's fixed 3
    sweeps). The oracle's vectors-x-centroids cross join is fine at
    oracle scale but the literal-argmin plan is what survives 100 TB."""
    from .operators.kmeans import kmeans_summary

    return kmeans_summary(load_table(spark, sf_dir, "embeddings"), k=8, max_sweeps=3)


@register(
    "curation_funnel",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
tc as (select doc_id, cast(len(toks) as bigint) as nt from t),
fp as (select min(doc_id) as keep_id from documents group by md5(text)),
base as (select doc_id, lang,
                cast(len(toks) as bigint) as n_tokens,
                cast(list_sum(list_transform(toks, x -> length(x))) as bigint) as sum_word_len,
                cast(len(list_filter(toks, x -> list_contains({_SW}, x))) as bigint) as sw_hits
         from t),
wc as (select doc_id, w, count(*) as n
       from (select doc_id, unnest({SQL_TOKS}) as w from documents)
       group by doc_id, w),
prof as (select doc_id, cast(max(n) as bigint) as max_count from wc group by doc_id),
lab as (
  select b.doc_id,
         case when b.n_tokens < 10 then 'too_short'
              when b.n_tokens > 5000 then 'too_long'
              when (cast(b.sum_word_len as double) / cast(b.n_tokens as double) < 2.0
                    or cast(b.sum_word_len as double) / cast(b.n_tokens as double) > 12.0)
                   then 'word_length'
              when cast(b.sw_hits as double) / cast(b.n_tokens as double) < 0.05
                   then 'low_stopword'
              when cast(p.max_count as double) / cast(b.n_tokens as double) > 0.2
                   then 'repetitive'
              end as reason
  from base b left join prof p using (doc_id)
),
fb as (select doc_id, lang,
              unnest(list_transform(feats,
                     x -> cast(concat('0x', substr(md5(x), 1, 2)) as int) % 256)) as b
       from f),
cntb as (select b, count(*) as nr,
                sum(case when lang = 'en' then 1 else 0 end) as ntt
         from fb group by b),
tot as (select cast(sum(nr) as double) as tr, cast(sum(ntt) as double) as tt from cntb),
lr as (select b,
              cast(round((ln((ntt + 1.0) / (tt + 256.0))
                        - ln((nr + 1.0) / (tr + 256.0))) * 1000000.0) as bigint) as lrs
       from cntb, tot),
dssum as (select fb.doc_id, sum(lr.lrs) as ssum
          from fb join lr using (b) group by fb.doc_id),
s1 as (select d.doc_id from documents d join fp on d.doc_id = fp.keep_id),
s2 as (select s1.doc_id from s1 join lab using (doc_id) where lab.reason is null),
s3 as (select s2.doc_id from s2 join scored using (doc_id) where scored.logit >= 0.0),
s4 as (select s3.doc_id from s3 left join dssum using (doc_id)
       where coalesce(ssum, 0) >= 0),
cnt as (
  select 0 as stage_idx, 'raw' as stage,
         count(*) as n_docs, coalesce(sum(nt), 0) as n_tokens from tc
  union all
  select 1, 'exact_dedup', count(*), coalesce(sum(nt), 0)
  from s1 join tc using (doc_id)
  union all
  select 2, 'quality_heuristic', count(*), coalesce(sum(nt), 0)
  from s2 join tc using (doc_id)
  union all
  select 3, 'quality_model', count(*), coalesce(sum(nt), 0)
  from s3 join tc using (doc_id)
  union all
  select 4, 'dsir_select', count(*), coalesce(sum(nt), 0)
  from s4 join tc using (doc_id)
)
select cast(stage_idx as bigint) as stage_idx, stage,
       cast(n_docs as bigint) as n_docs,
       cast(n_tokens as bigint) as n_tokens
from cnt order by stage_idx
""",
)
def q_curation_funnel(spark, sf_dir):
    """End-to-end pretraining-data curation funnel — the capstone
    composition of the §2.9 battery: exact dedup (keep lowest doc_id
    per md5 fingerprint) → heuristic C4/Gopher gate → learned model
    gate → DSIR target selection, reported as per-stage surviving
    (docs, tokens). Every stage reuses the standalone oracle-checked
    operator; survivors thread through LEFT-SEMI joins on doc_id, so
    each stage adds one key-only join — no payload is re-shuffled and
    the funnel's cost stays the sum of its stages. The DSIR model is
    fit on the RAW corpus (the standard setup: importance weights
    estimated before filtering)."""
    from .functions.text import token_count
    from .operators.curation import dsir_log_weights, hashed_feature_logit, quality_gate

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       token_count("text").alias("nt"))
    surv_dedup = (
        docs.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    keep_quality = quality_gate(docs).filter(F.col("keep")).select("doc_id")
    keep_model = hashed_feature_logit(docs).filter(F.col("model_pass")).select("doc_id")
    keep_dsir = (
        dsir_log_weights(docs)
        .filter(F.col("target_leaning"))
        .select("doc_id")
    )

    stages = [("raw", base)]
    cur = base.join(surv_dedup, "doc_id", "left_semi")
    stages.append(("exact_dedup", cur))
    cur = cur.join(keep_quality, "doc_id", "left_semi")
    stages.append(("quality_heuristic", cur))
    cur = cur.join(keep_model, "doc_id", "left_semi")
    stages.append(("quality_model", cur))
    cur = cur.join(keep_dsir, "doc_id", "left_semi")
    stages.append(("dsir_select", cur))

    parts = [
        df.agg(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        for i, (name, df) in enumerate(stages)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("stage_idx")


@register(
    "ivf_search_trained_vec0",
    oracle=f"""
with vecs as (
  select vec_id,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
c0 as (select vec_id as centroid_id, v as c from vecs where vec_id < 8),
{_km_sweep('c0', 'c1')},
{_km_sweep('c1', 'c2')},
{_km_sweep('c2', 'c3')},
assign as (
  select v.vec_id, c.centroid_id,
         list_sum(list_transform(range(1, 65),
                  i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i]))) as dist2
  from vecs v cross join c3 c
  qualify row_number() over (partition by v.vec_id
                             order by dist2, c.centroid_id) = 1
),
qv as (select v as q from vecs where vec_id = 0),
qprobe as (
  select c.centroid_id,
         list_sum(list_transform(range(1, 65),
                  i -> (q[i] - c.c[i]) * (q[i] - c.c[i]))) as qd
  from c3 c, qv
  qualify row_number() over (order by qd, c.centroid_id) <= 2
),
cand as (
  select a.vec_id from assign a join qprobe using (centroid_id)
  where a.vec_id <> 0
),
s as (
  select v.vec_id,
         list_sum(list_transform(range(1, 65),
                  i -> (v.v[i] - q[i]) * (v.v[i] - q[i]))) as dist2
  from vecs v join cand using (vec_id), qv
)
select s.vec_id, e.label, cast(s.dist2 as bigint) as dist2
from s join embeddings e using (vec_id)
order by s.dist2, s.vec_id limit 10
""",
)
def q_ivf_search_trained_vec0(spark, sf_dir):
    """IVF-ANN search over a TRAINED index — the production
    composition `ivf_search_vec0` approximates with seed centroids:
    kmeans_fit (3 exact Lloyd sweeps) trains the coarse quantizer,
    the corpus is assigned via the broadcast-codebook argmin (the
    broadcast moves the k model rows, never the vectors — no
    shuffle), the query probes its 2 nearest trained buckets, and the
    exact top-10 runs only inside the candidate buckets. Every
    distance is scaled-int64 — the whole train+index+search path is
    integer-exact, so the oracle hash-matches with no rounding at
    all. Candidate filtering is a broadcast-of-2-ids semi join; at
    100 TB the assignment table would be written bucketed by
    centroid_id so a probe touches only its buckets' files."""
    from .operators.kmeans import _best, _centroid_scalar, kmeans_fit, scaled_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = kmeans_fit(emb, k=8, max_sweeps=3)
    vecs = scaled_vectors(emb)
    assign = vecs.crossJoin(F.broadcast(_centroid_scalar(spark, cents))).select(
        "vec_id", "v", _best(F.col("cents_arr"))["cid"].alias("centroid_id")
    )
    qrow = vecs.filter(F.col("vec_id") == 0).collect()[0]
    qv = [int(x) for x in qrow["v"]]
    # probe: exact integer distances query->centroids, computed on the
    # k model rows driver-side (same ints the oracle derives in SQL)
    probe = sorted(
        (sum((qi - ci) ** 2 for qi, ci in zip(qv, vec)), cid) for cid, vec in cents
    )[:2]
    probe_ids = [cid for _, cid in probe]
    qlit = F.array(*[F.lit(x).cast("long") for x in qv])
    dist2 = F.aggregate(
        F.zip_with(F.col("v"), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        assign.filter(F.col("centroid_id").isin(probe_ids) & (F.col("vec_id") != 0))
        .select("vec_id", dist2.alias("dist2"))
        .join(emb.select("vec_id", "label"), "vec_id")
        .select("vec_id", "label", F.col("dist2").cast("long").alias("dist2"))
        .orderBy("dist2", "vec_id")
        .limit(10)
    )


def _zorder_oracle() -> str:
    from .operators.zorder import morton_sql

    return f"""
with ev as (select user_id, epoch_us(ts) // 60000000 as m from events),
b as (select min(user_id) as ulo, max(user_id) as uhi,
             min(m) as mlo, max(m) as mhi from ev),
n as (select ((ev.user_id - b.ulo) * 65535) // greatest(b.uhi - b.ulo, 1) as ua,
             ((ev.m - b.mlo) * 65535) // greatest(b.mhi - b.mlo, 1) as mb
      from ev, b),
z as (select ({morton_sql('ua', 'mb')}) as zv from n)
select cast(zv >> 24 as bigint) as bucket,
       cast(count(*) as bigint) as n_events,
       cast(min(zv) as bigint) as min_z,
       cast(max(zv) as bigint) as max_z
from z group by bucket
"""


@register("zorder_event_buckets", oracle=_zorder_oracle())
def q_zorder_event_buckets(spark, sf_dir):
    """Z-order (Morton) clustering values for the events table on
    (user_id, event-minute) — the lakehouse layout primitive (Delta
    OPTIMIZE ZORDER / Iceberg sort orders) that makes one file order
    serve box predicates on BOTH dimensions via parquet min/max
    pruning. The z-value math is pure integer expressions (16-bit
    min-max rank + 32 shift/mask interleave terms) generated by the
    SAME code for Spark and the DuckDB oracle
    (operators/zorder.py:morton / morton_sql), so the layout key is
    value-checked cross-engine, not just a write-side effect. Output:
    per top-8-bit z-bucket row counts and z ranges. Bounds are one
    1-row aggregate collected as literals (model-parameter pattern);
    the bucketing pass is a single map-side-combined aggregation.
    `zorder_write` + `tests/test_zorder.py` prove the payoff: a
    second-dimension predicate prunes most files under the z layout
    and none under a single-dim sort."""
    from .operators.zorder import morton, normalize_16

    ev = load_table(spark, sf_dir, "events")
    m = F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min(m).alias("mlo"),
        F.max(m).alias("mhi"),
    ).first()
    ua = normalize_16(F.col("user_id"), int(b["ulo"]), int(b["uhi"]))
    mb = normalize_16(m, int(b["mlo"]), int(b["mhi"]))
    z = morton(ua, mb)
    return (
        ev.select(z.alias("zv"))
        .groupBy(F.shiftright(F.col("zv"), 24).alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("zv").cast("long").alias("min_z"),
            F.max("zv").cast("long").alias("max_z"),
        )
        .select(F.col("bucket").cast("long"), "n_events", "min_z", "max_z")
    )


@register(
    "semdedup_drop",
    oracle=f"""
with vecs as (
  select vec_id,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
c0 as (select vec_id as centroid_id, v as c from vecs where vec_id < 8),
{_km_sweep('c0', 'c1')},
{_km_sweep('c1', 'c2')},
{_km_sweep('c2', 'c3')},
fin as (
  select v.vec_id, c.centroid_id,
         list_sum(list_transform(range(1, 65),
                  i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i]))) as dist2
  from vecs v cross join c3 c
  qualify row_number() over (partition by v.vec_id
                             order by dist2, c.centroid_id) = 1
),
ed as (
  select f.centroid_id, f.vec_id,
         list_transform(e.embedding, x -> cast(x as double)) as ve
  from fin f join embeddings e using (vec_id)
),
pairs as (
  select a.centroid_id, b.vec_id as vb
  from ed a join ed b
    on a.centroid_id = b.centroid_id and a.vec_id < b.vec_id
  where list_dot_product(a.ve, b.ve)
        / sqrt(list_sum(list_transform(a.ve, x -> x * x))
             * list_sum(list_transform(b.ve, x -> x * x))) >= 0.999
),
drp as (select centroid_id, count(distinct vb) as n_dropped
        from pairs group by centroid_id),
siz as (select centroid_id, count(*) as n_total from fin group by centroid_id)
select cast(c.centroid_id as bigint) as centroid_id,
       cast(coalesce(s.n_total, 0) - coalesce(d.n_dropped, 0) as bigint) as n_kept,
       cast(coalesce(d.n_dropped, 0) as bigint) as n_dropped
from c3 c
left join siz s using (centroid_id)
left join drp d using (centroid_id)
""",
)
def q_semdedup_drop(spark, sf_dir):
    """SemDeDup — semantic dedup scoped to TRAINED k-means clusters
    (operators/similarity.py:semdedup_drop): fit 8 centroids with the
    exact fixed-point Lloyd trainer, assign zero-shuffle against the
    centroid literal, threshold within-cluster cosine pairs at 0.999
    and drop the higher vec_id. Completes the embedding-dedup ladder:
    label-blocked (embedding_near_dup_drop) → hash-bucketed
    (brp_lsh_ann_pairs) → learned-cluster-blocked (this). The oracle
    re-trains the identical model in DuckDB (unrolled integer CTE
    sweeps) and replays the pair cut — the whole fit+dedup pipeline is
    value-checked cross-engine, not just the counts."""
    from .operators.similarity import semdedup_drop

    return semdedup_drop(load_table(spark, sf_dir, "embeddings"), k=8, max_sweeps=3)


def _sdp_dist2(v: str, c: str, d: int = 64) -> str:
    """Exact scaled-int squared distance between two bigint lists."""
    return (
        f"list_sum(list_transform(range(1, {d + 1}), "
        f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )


#: exact integer floor-division (toward −inf, matching numpy's ``//``
#: on int64) — DuckDB's ``//`` truncates toward zero, so subtract the
#: nonnegative residue first; the remaining quotient is exact.
def _sdp_fdiv(sm: str, ct: str) -> str:
    return f"(({sm} - ((({sm} % {ct}) + {ct}) % {ct})) // {ct})"


def _sdp_coarse_sweep(prev: str, out: str, d: int = 64) -> str:
    """One Lloyd sweep over the hash-ordered SAMPLE in DuckDB SQL —
    the replay of semdedup_drop_pruned's driver-side numpy sweep:
    first-min assignment (dist2, centroid_id), per-dim FLOOR-division
    mean update (numpy int64 ``//``), empty centroids keep their
    previous coordinates."""
    return f"""
{out}_a as materialized (
  select s.vec_id, s.v, c.centroid_id,
         {_sdp_dist2('s.v', 'c.c', d)} as dist2
  from samp s cross join {prev} c
  qualify row_number() over (partition by s.vec_id
                             order by dist2, c.centroid_id) = 1
),
{out}_d as (
  select centroid_id, d, sum(v[d]) as sm, cast(count(*) as bigint) as ct
  from (select centroid_id, unnest(range(1, {d + 1})) as d, v from {out}_a)
  group by centroid_id, d
),
{out} as materialized (
  select p.centroid_id, coalesce(n.c, p.c) as c
  from {prev} p
  left join (select centroid_id,
                    list({_sdp_fdiv('sm', 'ct')} order by d) as c
             from {out}_d group by centroid_id) n
    using (centroid_id)
)"""


def _sdp_fine_sweep(prev: str, out: str, d: int = 64) -> str:
    """One per-CELL Lloyd sweep over the sample's cell members —
    identical discipline to the coarse sweep, partitioned by the
    coarse cell (the two-level codebook's second level)."""
    return f"""
{out}_a as materialized (
  select m.cell, m.vec_id, m.v, f.lcid,
         {_sdp_dist2('m.v', 'f.c', d)} as dist2
  from crn m join {prev} f using (cell)
  qualify row_number() over (partition by m.cell, m.vec_id
                             order by dist2, f.lcid) = 1
),
{out}_d as (
  select cell, lcid, d, sum(v[d]) as sm, cast(count(*) as bigint) as ct
  from (select cell, lcid, unnest(range(1, {d + 1})) as d, v from {out}_a)
  group by cell, lcid, d
),
{out} as materialized (
  select p.cell, p.lcid, coalesce(n.c, p.c) as c
  from {prev} p
  left join (select cell, lcid,
                    list({_sdp_fdiv('sm', 'ct')} order by d) as c
             from {out}_d group by cell, lcid) n
    using (cell, lcid)
)"""


def _semdedup_pruned_oracle(
    k: int = 16,
    coarse: int = 4,
    sweeps: int = 3,
    sample_cap: int = 32768,
    threshold: float = 0.999,
    d: int = 64,
) -> str:
    """The full two-level sample-fit replay (r11 directive #2): every
    stage of semdedup_drop_pruned is deterministic from the data
    alone — md5-ordered sample, integer seed positions (every step-th
    sample row), ``sweeps`` exact-int coarse Lloyd sweeps on the
    sample, per-cell fine sweeps,
    sequential fine-cid numbering, two-level pruned assignment of all
    vectors, and the within-fine-cluster cosine pair cut — so DuckDB
    re-trains the identical codebook and replays the whole pipeline,
    the same oracle-replayable-model principle as semdedup_drop /
    pq_adc_topk, extended to the sample-fit regime."""
    k_cell = max(1, -(-k // coarse))
    cs_sweeps = ",".join(
        _sdp_coarse_sweep(f"cs{i}", f"cs{i + 1}", d) for i in range(sweeps)
    )
    fs_sweeps = ",".join(
        _sdp_fine_sweep(f"fs{i}", f"fs{i + 1}", d) for i in range(sweeps)
    )
    return f"""
with vecs as (
  select vec_id,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
samp0 as (
  select vec_id, v,
         row_number() over (
           order by cast(concat('0x',
                        substr(md5(cast(vec_id as varchar)), 1, 15)) as bigint),
                    vec_id) as rn
  from vecs
),
samp as materialized (select * from samp0 where rn <= {sample_cap}),
par as (
  select count(*) as n,
         least({coarse}, count(*)) as kk,
         greatest(1, count(*) // least({coarse}, count(*))) as step
  from samp
),
cs0 as (
  select cast((s.rn - 1) // p.step as int) as centroid_id, s.v as c
  from samp s, par p
  where (s.rn - 1) % p.step = 0 and (s.rn - 1) // p.step < p.kk
),
{cs_sweeps},
scell as materialized (
  select s.rn, s.vec_id, s.v, c.centroid_id as cell,
         {_sdp_dist2('s.v', 'c.c', d)} as dist2
  from samp s cross join cs{sweeps} c
  qualify row_number() over (partition by s.vec_id
                             order by dist2, c.centroid_id) = 1
),
cpar as (
  select cell, count(*) as n,
         least({k_cell}, count(*)) as kk,
         greatest(1, count(*) // least({k_cell}, count(*))) as step
  from scell group by cell
),
crn as materialized (
  select sc.cell, sc.vec_id, sc.v,
         row_number() over (partition by sc.cell order by sc.rn) as crn
  from scell sc
),
fs0 as (
  select c.cell, cast((c.crn - 1) // p.step as int) as lcid, c.v as c
  from crn c join cpar p using (cell)
  where (c.crn - 1) % p.step = 0 and (c.crn - 1) // p.step < p.kk
),
{fs_sweeps},
fine as materialized (
  select cell, lcid, c from fs{sweeps}
  union all
  select c.centroid_id as cell, 0 as lcid, c.c as c
  from cs{sweeps} c
  where c.centroid_id not in (select cell from cpar)
),
nrows as (select cell, cast(count(*) as bigint) as nr from fine group by cell),
offs as (
  select cell,
         coalesce(sum(nr) over (order by cell
                  rows between unbounded preceding and 1 preceding), 0) as off
  from nrows
),
fcid as materialized (
  select f.cell, f.c, cast(o.off + f.lcid as int) as cid
  from fine f join offs o using (cell)
),
acell as materialized (
  select v.vec_id, v.v, c.centroid_id as cell,
         {_sdp_dist2('v.v', 'c.c', d)} as dist2
  from vecs v cross join cs{sweeps} c
  qualify row_number() over (partition by v.vec_id
                             order by dist2, c.centroid_id) = 1
),
afine as materialized (
  -- alias must NOT be 'dist2': acell exposes a column of that name
  -- through the join, and the shadowed qualify would argmin over the
  -- COARSE distance (constant per vec) instead of the fine one
  select a.vec_id, f.cid,
         {_sdp_dist2('a.v', 'f.c', d)} as fdist2
  from acell a join fcid f using (cell)
  qualify row_number() over (partition by a.vec_id
                             order by fdist2, f.cid) = 1
),
ed as (
  select f.cid, f.vec_id,
         list_transform(e.embedding, x -> cast(x as double)) as ve
  from afine f join embeddings e using (vec_id)
),
pairs as (
  select a.cid, b.vec_id as vb
  from ed a join ed b on a.cid = b.cid and a.vec_id < b.vec_id
  where list_dot_product(a.ve, b.ve)
        / sqrt(list_sum(list_transform(a.ve, x -> x * x))
             * list_sum(list_transform(b.ve, x -> x * x))) >= {threshold}
),
drp as (select cid, count(distinct vb) as n_dropped from pairs group by cid),
siz as (select cid, count(*) as n_total from afine group by cid)
select cast(m.cid as bigint) as centroid_id,
       cast(coalesce(s.n_total, 0) - coalesce(d.n_dropped, 0) as bigint) as n_kept,
       cast(coalesce(d.n_dropped, 0) as bigint) as n_dropped
from fcid m
left join siz s using (cid)
left join drp d using (cid)
"""


@register(
    "semdedup_pruned_drop",
    oracle=_semdedup_pruned_oracle(k=16, coarse=4, sweeps=3),
)
def q_semdedup_pruned_drop(spark, sf_dir):
    """SemDeDup with IVF-pruned assignment
    (operators/similarity.py:semdedup_drop_pruned): fit a two-level
    codebook (√k coarse cells → ⌈k/√k⌉ fine centroids per cell) on a
    deterministic ≤32k sample with the exact-int driver Lloyd, then
    assign every vector in ONE zero-shuffle JVM pass costing
    O(2√k) comparisons per vector instead of O(k), and drop
    within-fine-cluster cosine ≥ 0.999 pairs. This is the k ∝ N
    regime's answer to semdedup_drop's O(N·k) assignment wall
    (PERF.md round 8: exact variant's first cut measured ×38 at ×30
    data with scaled k; this one measures ×5.9 full-call at ×30 —
    sublinear per unit data). Approximation is blocking-only:
    reported drops always pass the exact cosine test.

    FULL-ORACLE since r12 (r11 directive #2): the operator orders the
    sample by the md5-derived 60-bit hash, which makes the
    whole sample fit deterministic from the data alone — the oracle
    (_semdedup_pruned_oracle) re-trains the identical two-level
    codebook in DuckDB (seed rows at integer step positions, unrolled
    exact-int sweeps with numpy's floor-division update replayed via
    an exact integer floor-div) and replays pruned assignment + pair
    cut, the same principle that made semdedup_drop and pq_adc_topk
    fully value-checked."""
    from .operators.similarity import semdedup_drop_pruned

    return semdedup_drop_pruned(
        load_table(spark, sf_dir, "embeddings"),
        k=16,
        coarse=4,
        max_sweeps=3,
    )


@register(
    "bm25_top_docs",
    oracle=f"""
with toks as (
  select doc_id, {SQL_TOKS} as tk from documents
),
dl as (select doc_id, cast(len(tk) as bigint) as dl from toks),
stats as (select cast(count(*) as bigint) as n_docs,
                 cast(sum(dl) as double) / count(*) as avgdl
          from dl),
wc as (
  select doc_id, w, cast(count(*) as bigint) as tf
  from (select doc_id, unnest(tk) as w from toks)
  where w in ('spark', 'hash', 'join')
  group by doc_id, w
),
dfreq as (select w, cast(count(*) as bigint) as df from wc group by w),
scored as (
  select wc.doc_id,
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * (wc.tf * 2.2)
           / (wc.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl)) as part
  from wc
  join dfreq f using (w)
  join dl d using (doc_id)
  cross join stats s
)
select doc_id, round(sum(part), 6) as bm25
from scored
group by doc_id
order by bm25 desc, doc_id
limit 20
""",
)
def q_bm25_top_docs(spark, sf_dir):
    """BM25 ranked retrieval (Robertson k1=1.2, b=0.75) for the query
    'spark hash join' — the scoring layer over the inverted-index
    build (`inverted_index_postings`); logic in
    operators/textops.py:bm25_topk (plan shape documented there:
    filter-before-aggregate on the query terms, scalar-broadcast
    corpus stats, rounded sum + doc_id tiebreak, TakeOrderedAndProject
    top-k). At 100 TB this is the query-time path a sorted-bucketed
    term index would serve; here it runs straight off the corpus."""
    from .operators.textops import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "hash", "join"], k=20)


@register(
    "ewma_user_value",
    oracle="""
with pos as (
  select user_id, value,
         row_number() over (partition by user_id order by ts, event_id) as rn,
         count(*) over (partition by user_id) as n
  from events
)
select user_id,
       cast(max(n) as bigint) as n_events,
       round(sum(value * power(0.75, n - rn)
                 * case when rn > 1 then 0.25 else 1.0 end), 6) as ewma_value
from pos
group by user_id
""",
)
def q_ewma_user_value(spark, sf_dir):
    """Per-user final EWMA of event values (α=0.25) — the recursive
    smoother s_n = α·x_n + (1-α)·s_{n-1} re-expressed in closed form
    as ONE weighted aggregate (operators/timeseries.py:ewma_final):
    O(rows) with a single user_id shuffle, instead of the naive
    O(history²) running-frame window or a non-distributable recursion.
    The oracle replays the identical closed form in SQL."""
    from .operators.timeseries import ewma_final

    return ewma_final(load_table(spark, sf_dir, "events"), alpha=0.25)


@register(
    "streaming_session_stats",
    oracle="""
with flagged as (
  select user_id, event_id, ts,
         case when epoch_us(ts) - lag(epoch_us(ts)) over w is null
                or epoch_us(ts) - lag(epoch_us(ts)) over w > 1800000000
              then 1 else 0 end as new_session
  from events
  window w as (partition by user_id order by ts, event_id)
),
with_id as (
  select user_id, ts,
         sum(new_session) over (partition by user_id order by ts, event_id
             rows between unbounded preceding and current row) as session_id
  from flagged
)
select user_id,
       min(ts) as session_start,
       max(ts) + interval 30 minutes as session_end_padded,
       cast(count(*) as bigint) as n_events
from with_id
group by user_id, session_id
""",
)
def q_streaming_session_stats(spark, sf_dir):
    """STREAMING session windows (streaming/events_stream.py:
    run_streaming_sessions): native session_window over the event
    stream — gap-merged, data-dependent window bounds maintained in
    streaming state, the hardest stateful-window shape. On the finite
    input it equals the batch `session_window_stats`, so the identical
    islands-sessionization SQL is the oracle — the streaming state
    machine is value-checked, not just row-counted."""
    from .streaming.events_stream import run_streaming_sessions

    return run_streaming_sessions(spark, sf_dir)


@register(
    "multimodal_video_frames",
    oracle="""
select cast(d.doc_id as bigint) as asset_id,
       cast(f as int) as frame_index,
       cast(3 + d.doc_id % 5 as int) as width,
       cast(2 as int) as height,
       cast((d.doc_id * 11 + 17 * f) % 256 as double) as mean_pixel
from documents d, unnest(range(0, 2 + d.doc_id % 4)) as u(f)
where f % 2 = 0
""",
)
def q_multimodal_video_frames(spark, sf_dir):
    """Video counterpart of the image/audio decode queries: REAL
    multi-frame containers (concatenated-P6 PPM streams — the netpbm
    stream format image2pipe emits), deterministically generated per
    doc_id, decoded frame-by-frame by a pure-Python header walk and
    subsampled at stride 2 (operators/multimodal.py:
    decode_ppm_stream / sample_video_frames). Every decoded field
    (frame count, kept indices, dims, constant-frame mean pixel)
    reduces to closed-form arithmetic the DuckDB oracle states — the
    container walk, the 1→N Arrow explosion, and the stride sampling
    are all value-checked, not just row-counted."""
    from .operators.multimodal import sample_video_frames, synthetic_ppm_stream_assets

    docs = load_table(spark, sf_dir, "documents")
    return sample_video_frames(synthetic_ppm_stream_assets(docs))


@register(
    "spearman_value_risk",
    oracle="""
with base as (
  select value as x,
         cast(json_extract_string(props, '$.k') as double) as y
  from events
  where value is not null
    and json_extract_string(props, '$.k') is not null
),
ranked as (
  select
    2 * rank() over (order by x) + count(*) over (partition by x) - 1 as rx,
    2 * rank() over (order by y) + count(*) over (partition by y) - 1 as ry
  from base
),
s as (
  select cast(count(*) as decimal(38,0)) as n,
         sum(cast(rx as decimal(38,0))) as sx,
         sum(cast(ry as decimal(38,0))) as sy,
         sum(cast(rx as decimal(38,0)) * cast(rx as decimal(38,0))) as sxx,
         sum(cast(ry as decimal(38,0)) * cast(ry as decimal(38,0))) as syy,
         sum(cast(rx as decimal(38,0)) * cast(ry as decimal(38,0))) as sxy
  from ranked
)
select cast(n as bigint) as n_obs,
       round(cast(n * sxy - sx * sy as double)
         / sqrt(cast(n * sxx - sx * sx as double)
              * cast(n * syy - sy * sy as double)), 9) as spearman_rho
from s
""",
)
def q_spearman_value_risk(spark, sf_dir):
    """Spearman rank correlation between event value and risk score,
    EXACT: average-rank tie handling is kept in integers by scaling
    ranks ×2 (avg rank = rank + (ties-1)/2 → 2·avg = 2·rank+ties-1),
    all five power sums accumulate in decimal(38) (order-independent,
    engine-exact); the final cast/sqrt/divide step is rounded to 9dp
    because DuckDB's int128→double cast is not correctly rounded
    beyond 2^53 (the n·Σxx product exceeds it) — the sums stay
    exact, only the last step rounds. Distribution shape (round 8):
    one map-side-combined aggregate by the JOINT (x, y) value is the
    only pass over the events; the two exact marginal rank tables come
    from running counts over NDV-sized value histograms (the inline
    comment derives the equivalence), so no raw row ever crosses into
    an unpartitioned window; then ONE scalar cnt-weighted aggregate.
    Pearson-on-ranks never materializes a pair join. Native corr() is
    float-accumulation-order-dependent and would not hash-match —
    this formulation is why it does."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("value").alias("x"),
        F.get_json_object("props", "$.k").cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    # Round 8: the rank passes ride per-value HISTOGRAMS, not rows —
    # aggregate the corpus once by the (x, y) JOINT value (map-side
    # combined, the only pass over the data), derive each marginal's
    # ×2-scaled average rank from a running count over its distinct
    # values (2·avgrank(v) = 2·(cum_before(v)+1) + n(v) − 1, identical
    # to the rank()+count() window it replaces), and join the two
    # marginal rank tables back onto the joint histogram. The
    # unpartitioned windows now order NDV-sized (value, count) frames;
    # no raw event row ever enters a single-partition window. All
    # moment sums become cnt-weighted — same integers, same oracle.
    joint = base.groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    def marginal_ranks(col: str, rname: str):
        m = joint.groupBy(col).agg(F.sum("cnt").cast("long").alias("nv"))
        cum_before = F.coalesce(
            F.sum("nv").over(
                Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        )
        return m.select(col, (2 * (cum_before + 1) + F.col("nv") - 1).alias(rname))

    weighted = joint.join(marginal_ranks("x", "rx"), "x").join(
        marginal_ranks("y", "ry"), "y"
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")
    s = weighted.agg(
        F.sum(d("cnt")).alias("n"),
        F.sum(d("cnt") * d("rx")).alias("sx"),
        F.sum(d("cnt") * d("ry")).alias("sy"),
        F.sum(d("cnt") * d("rx") * d("rx")).alias("sxx"),
        F.sum(d("cnt") * d("ry") * d("ry")).alias("syy"),
        F.sum(d("cnt") * d("rx") * d("ry")).alias("sxy"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_obs"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            ),
            9,
        ).alias("spearman_rho"),
    )


@register(
    "per_type_value_trend",
    oracle="""
with base as (
  select event_type,
         cast(epoch_us(ts) // 1000000 - 1704067200 as decimal(19,0)) as x,
         cast(value as decimal(12,2)) as y
  from events
),
s as (
  select event_type,
         cast(count(*) as decimal(38,0)) as n,
         sum(cast(x as decimal(38,0))) as sx,
         sum(cast(y as decimal(38,2))) as sy,
         sum(cast(x * y as decimal(38,2))) as sxy,
         sum(cast(x * x as decimal(38,0))) as sxx
  from base group by event_type
)
select event_type,
       cast(n as bigint) as n_obs,
       round(86400.0 * cast(n * sxy - sx * sy as double)
         / cast(n * sxx - sx * sx as double), 9) as slope_per_day,
       round((cast(sy as double) - (cast(n * sxy - sx * sy as double)
         / cast(n * sxx - sx * sx as double)) * cast(sx as double))
         / cast(n as double), 9) as value_at_origin
from s
""",
)
def q_per_type_value_trend(spark, sf_dir):
    """Distributed least-squares trend per event type (the drift
    detector: is `value` rising over time?): slope and the fitted
    value at a FIXED origin (2024-01-01) from the closed-form normal
    equations. Epoch seconds are centered on that fixed origin so
    every power sum and normal-equation product stays comfortably
    inside decimal(38) — order-independent and engine-exact
    (uncentered epoch² sums overflow precision 38 and the engines'
    overflow paths differ). Floats appear only in the final casts and
    divisions; those are rounded to 9dp because DuckDB's int128→
    double cast is not correctly rounded beyond 2^53 (measured 2-ulp
    drift on a 17-digit numerator), so ulp-exact division is
    unattainable — the engine-portability rounding rule applies to
    the last step only, the sums stay exact. One map-side-
    combined aggregate per group; no window, no driver math; the same
    five sums scale to 100 TB untouched (MADlib's linregr shape)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000))
        .cast("long")
        .__sub__(F.lit(1704067200))
        .cast("decimal(19,0)")
        .alias("x"),
        F.col("value").cast("decimal(12,2)").alias("y"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,2)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,2)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        F.round(F.lit(86400.0) * slope, 9).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            9,
        ).alias("value_at_origin"),
    )


@register(
    "model_quality_auc",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
{_HEUR_LABEL_CTES},
ranked as (
  select h.label,
         2 * rank() over (order by s.logit) + count(*) over (partition by s.logit) - 1 as r2
  from heur h join scored s using (doc_id)
),
agg as (
  select cast(sum(case when label then 1 else 0 end) as bigint) as n_pos,
         cast(sum(case when label then 0 else 1 end) as bigint) as n_neg,
         cast(sum(case when label then r2 else 0 end) as bigint) as s2
  from ranked
)
select n_pos, n_neg,
       cast(s2 - n_pos * (n_pos + 1) as double)
         / cast(2 * n_pos * n_neg as double) as auc
from agg
""",
)
def q_model_quality_auc(spark, sf_dir):
    """ROC-AUC of the learned quality score against the heuristic
    C4/Gopher gate label — the calibration check a real curation
    pipeline runs before trusting a quality classifier. EXACT: AUC is
    the Mann-Whitney rank-sum (AUC = (Σ_pos avgrank − n⁺(n⁺+1)/2) /
    (n⁺n⁻)) with average-rank ties kept integer by the ×2 scaling
    trick (2·avgrank = 2·rank + ties − 1), so the statistic is two
    exact int64 totals and ONE double division — no float reduction
    anywhere, bit-identical cross-engine with no rounding (all values
    < 2^53). Positives and negatives never pair-join (the naive AUC
    is an n⁺×n⁻ join), and — round 8 — the rank pass never puts the
    CORPUS through a global window: rows aggregate per distinct logit
    first (map-side combined, fully parallel — the only pass that
    sees the data), and the rank prefix runs over that (value, n, p)
    histogram, so the single ordered partition holds NDV(logit)
    24-byte rows, not documents. min-rank(v) = 1 + Σ_{u<v} n(u) and
    2·avgrank(v) = 2·min-rank(v) + n(v) − 1 make the per-value form
    exactly the per-row window it replaces (oracle unchanged). At
    100 TB the histogram prefix itself can range-partition (per-range
    partial sums + broadcast offsets) — but what crosses into one
    task here is the score histogram, never the corpus."""
    from pyspark.sql import Window

    from .operators.curation import hashed_feature_logit, quality_gate

    docs = load_table(spark, sf_dir, "documents")
    heur = quality_gate(docs).select("doc_id", F.col("keep").alias("label"))
    model = hashed_feature_logit(docs).select("doc_id", "logit")
    byv = (
        heur.join(model, "doc_id")
        .groupBy("logit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("p"),
        )
    )
    cum_before = F.coalesce(
        F.sum("n").over(
            Window.orderBy("logit").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    ranked = byv.select(
        "n",
        "p",
        (2 * (cum_before + 1) + F.col("n") - 1).alias("r2"),
    )
    agg = ranked.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("p")).cast("long").alias("n_neg"),
        F.sum(F.col("p") * F.col("r2")).cast("long").alias("s2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (
            (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


@register(
    "bpe_train_encode",
    oracle=f"""
with vocab as (
  select w, cast(count(*) as bigint) as n
  from (select unnest({SQL_TOKS}) as w from documents)
  group by w
),
s0 as (
  select w, n,
         regexp_replace(w, '(?s)(.)',
                        chr(31) || '\\1' || chr(31), 'g') as seg
  from vocab
),
{_BPE_SWEEPS},
ntok as (
  select w,
         cast(len(list_filter(string_split(seg, chr(31)),
                              x -> x <> '')) as bigint) as nt
  from s8
),
ex as (select doc_id, unnest({SQL_TOKS}) as w from documents),
agg as (
  select ex.doc_id,
         cast(count(*) as bigint) as n_words,
         cast(sum(length(ex.w)) as bigint) as n_chars,
         cast(sum(ntok.nt) as bigint) as n_bpe_tokens
  from ex join ntok using (w)
  group by ex.doc_id
)
select d.doc_id,
       coalesce(a.n_words, 0) as n_words,
       coalesce(a.n_chars, 0) as n_chars,
       coalesce(a.n_bpe_tokens, 0) as n_bpe_tokens,
       case when a.n_bpe_tokens > 0
            then round(cast(a.n_chars as double) / a.n_bpe_tokens, 6)
       end as compression
from documents d left join agg a using (doc_id)
""",
)
def q_bpe_train_encode(spark, sf_dir):
    """Full BPE tokenizer round trip (operators/bpe.py): train 8
    merges on the corpus with the distributed re-segmentation loop
    (driver state = the merge list only; one Arrow pass per sweep,
    map-side-combined pair counts, one top-candidate collect), then
    encode every document with the learned merges and report per-doc
    word/char/BPE-token counts and compression.

    FULL ORACLE since round 11 (VERDICT r10 #5, flipping the
    rows-only row): the trainer is EXACT greedy BPE — each sweep
    accepts the single (count desc, pair asc) argmax — so the DuckDB
    oracle replays the whole fit as 8 chained sweep CTEs (the kmeans
    pinned-fit precedent): segmentations are
    boundary-wrapped strings (each symbol as chr(31)+s+chr(31), so a
    pair replace can never match a partial symbol), a sweep counts
    adjacent pairs weighted by word frequency, takes the argmax with
    the same total tiebreak, and applies it with left-to-right
    non-overlapping ``replace`` — exactly the semantics of
    ``_segment``'s merge step. Sequential application in rank order
    equals the encoder's greedy lowest-rank-first loop because a
    merge at rank r can only create symbols whose pairs were learned
    AFTER r (a pair involving symbol 'ab' is only countable once
    'ab' exists). The trainer's n<2 stop maps to each sweep's
    ``where c >= 2`` filter: an empty argmax leaves the segmentation
    fixed, which is idempotent across remaining sweeps — identical
    to breaking."""
    from .operators.bpe import bpe_encode_stats, train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=8)
    return bpe_encode_stats(docs, merges)


@register(
    "pmi_collocations",
    headline=True,
    oracle=f"""
with t as (select {SQL_TOKS} as toks from documents),
uni as (select unnest(toks) as w from t),
uc as (select w, cast(count(*) as bigint) as c from uni group by w),
tot as (select cast(count(*) as bigint) as t_total from uni),
bi as (select toks[g] as w1, toks[g + 1] as w2
       from t, unnest(generate_series(1, len(toks) - 1)) s(g)
       where len(toks) >= 2),
bc as (select w1, w2, cast(count(*) as bigint) as c_ab from bi group by w1, w2),
btot as (select cast(count(*) as bigint) as b_total from bi)
select w1, w2, c_ab,
       round(ln(((cast(c_ab as double) * cast(t_total as double)) * cast(t_total as double))
              / ((cast(b_total as double) * cast(uc1.c as double)) * cast(uc2.c as double))), 6) as pmi
from bc
join uc uc1 on bc.w1 = uc1.w
join uc uc2 on bc.w2 = uc2.w
cross join tot cross join btot
where c_ab >= 5
order by pmi desc, w1, w2
limit 30
""",
)
def q_pmi_collocations(spark, sf_dir):
    """Collocation extraction by pointwise mutual information over
    adjacent word pairs (operators/textops.py:pmi_collocations) — the
    phrase-mining layer between raw pair counts (bpe_top_merges) and a
    tokenizer/vocab build. Exact integer counts from ONE unified
    unigram+bigram exploded stream (single scan, single shuffle,
    ReuseExchange dedupes the shared aggregate); PMI itself is a
    per-row double expression over broadcast scalar totals."""
    from .operators.textops import pmi_collocations

    return pmi_collocations(load_table(spark, sf_dir, "documents"))


@register(
    "image_ahash_dedup",
    oracle="""
with h as (
  select doc_id,
         case doc_id % 4
           when 0 then '0f0f0f0f0f0f0f0f'
           when 1 then '00000000ffffffff'
           when 2 then 'f0f0f0f00f0f0f0f'
           else 'f0f0f0f0f0f0f0f0' end as ahash
  from documents
)
select ahash, cast(count(*) as bigint) as n_images,
       cast(min(doc_id) as bigint) as keeper
from h group by ahash order by ahash
""",
)
def q_image_ahash_dedup(spark, sf_dir):
    """Perceptual image dedup: REAL 16x16 two-tone PPM bytes are
    decoded and average-hashed (operators/multimodal.py:ahash_image —
    8x8 box-binned block means thresholded on the global mean), then
    exact-grouped on the 64-bit fingerprint. Every image has UNIQUE
    bytes (per-id brightness), so byte-level dedup finds nothing while
    the perceptual hash collapses the 4 pattern classes — the oracle
    states each class fingerprint as a closed-form literal (the
    multimodal_audio_decode pattern: synthetic assets, real decoder).
    One Arrow crossing for the decode+hash, then a map-side-combined
    groupBy on a 16-char key; hamming-tolerant variants band-split the
    fingerprint into the LSH bucket shape of operators/dedup.py. At
    100 TB the fingerprint table is the only thing that shuffles."""
    from .operators.multimodal import image_ahash, synthetic_pattern_ppm_assets

    docs = load_table(spark, sf_dir, "documents")
    hashed = image_ahash(synthetic_pattern_ppm_assets(docs))
    return (
        hashed.groupBy("ahash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.min("asset_id").cast("long").alias("keeper"),
        )
        .orderBy("ahash")
    )


@register(
    "containment_near_dup",
    oracle=f"""
with {SQL_JACCARD_CTES}
select cast(da as bigint) as doc_id_a, cast(db as bigint) as doc_id_b,
       cast(ni as double) / cast(least(sa.n, sb.n) as double) as containment
from inter
join sizes sa on da = sa.doc_id
join sizes sb on db = sb.doc_id
where cast(ni as double) / cast(least(sa.n, sb.n) as double) >= 0.8
""",
)
def q_containment_near_dup(spark, sf_dir):
    """Asymmetric containment near-dup pairs (|A∩B| / min(|A|,|B|) ≥
    0.8) — catches short docs quoted inside long ones, which Jaccard
    structurally misses at any usable threshold
    (operators/dedup.py:ngram_containment_pairs). Same one-shuffle
    df-capped shingle pipeline as ngram_jaccard_pairs; only the final
    formula differs (one double division over exact counts)."""
    from .operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


@register("compression_quality_signals")  # rows-only: no SQL-side compressor
def q_compression_quality_signals(spark, sf_dir):
    """Per-doc deflate compression ratio as a repetition/boilerplate
    quality signal (operators/quality.py:compression_signals) — the
    long-range-repetition detector entropy-based repetition_signals
    cannot see. Arrow-batched stdlib-zlib pandas_udf (one Python
    crossing, zero shuffle); rows-only because no SQL engine
    compresses, with numeric bounds pinned in tests/test_quality.py."""
    from .operators.quality import compression_signals

    docs = load_table(spark, sf_dir, "documents")
    return compression_signals(docs)


@register(
    "table_stats_events",
    oracle="""
select * from (
  select 'event_id' as "column", 'bigint' as dtype,
         cast(count(*) as bigint) as n_rows,
         cast(count(*) - count(event_id) as bigint) as n_nulls,
         cast(count(distinct event_id) as bigint) as n_distinct,
         cast(min(event_id) as double) as min_num,
         cast(max(event_id) as double) as max_num,
         cast(null as varchar) as min_str, cast(null as varchar) as max_str
  from events
  union all
  select 'ts', 'timestamp_ntz', cast(count(*) as bigint),
         cast(count(*) - count(ts) as bigint),
         cast(count(distinct ts) as bigint),
         cast(epoch_us(min(ts)) as double), cast(epoch_us(max(ts)) as double),
         null, null
  from events
  union all
  select 'user_id', 'bigint', cast(count(*) as bigint),
         cast(count(*) - count(user_id) as bigint),
         cast(count(distinct user_id) as bigint),
         cast(min(user_id) as double), cast(max(user_id) as double),
         null, null
  from events
  union all
  select 'event_type', 'string', cast(count(*) as bigint),
         cast(count(*) - count(event_type) as bigint),
         cast(count(distinct event_type) as bigint),
         null, null, min(event_type), max(event_type)
  from events
  union all
  select 'value', 'double', cast(count(*) as bigint),
         cast(count(*) - count(value) as bigint),
         cast(count(distinct value) as bigint),
         cast(min(value) as double), cast(max(value) as double),
         null, null
  from events
  union all
  select 'props', 'string', cast(count(*) as bigint),
         cast(count(*) - count(props) as bigint),
         cast(count(distinct props) as bigint),
         null, null, min(props), max(props)
  from events
) order by "column"
""",
)
def q_table_stats_events(spark, sf_dir):
    """ANALYZE TABLE-style stats profile of the events table
    (operators/quality.py:column_stats): per-column rows/nulls/NDV/
    typed min-max in one aggregate pass, unpivoted to a row per column
    — the CBO-statistics collection surface. Timestamp extremes are
    epoch microseconds (engine-portable, no string formatting);
    exact NDV here, approx_count_distinct at 100 TB (approx_ndv=True,
    avoiding the multi-distinct expand)."""
    from .operators.quality import column_stats

    return column_stats(load_table(spark, sf_dir, "events"))


@register(
    "incremental_mv_update",
    oracle="""
select event_type,
       cast(count(*) as bigint) as n,
       cast(sum(cast(value as decimal(18,2))) as double) as total_value,
       min(value) as vmin,
       max(value) as vmax
from events group by event_type
""",
)
def q_incremental_mv_update(spark, sf_dir):
    """Incremental materialized-view maintenance (operators/merge.py:
    agg_state + merge_agg_states): the per-event_type aggregate is
    maintained as a mergeable state tuple — history state merged with
    a new batch's state (split at 2024-01-20) instead of recomputed.
    The oracle is the FULL recompute over all events: equality proves
    the merge is exactly associative (decimal sums, not float). This
    is the REFRESH INCREMENTAL shape: at 100 TB the view refresh
    touches only the delta plus a key-width state join."""
    from .operators.merge import agg_state, merge_agg_states

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20").cast("timestamp_ntz")
    state = agg_state(ev.filter(F.col("ts") < cut), "event_type", "value")
    delta = agg_state(ev.filter(F.col("ts") >= cut), "event_type", "value")
    merged = merge_agg_states(state, delta, "event_type")
    return merged.select(
        "event_type",
        "n",
        F.col("total_dec").cast("double").alias("total_value"),
        "vmin",
        "vmax",
    )


@register(
    "event_transition_matrix",
    oracle="""
with s as (
  select event_type as from_type,
         lead(event_type) over (partition by user_id order by ts, event_id)
           as to_type
  from events
),
c as (select from_type, to_type, cast(count(*) as bigint) as n
      from s where to_type is not null group by 1, 2)
select from_type, to_type, n,
       cast(n as double)
         / cast(sum(n) over (partition by from_type) as double) as p
from c
order by from_type, to_type
""",
)
def q_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: consecutive (from_type → to_type) counts and row-
    normalized transition probabilities — the ORDERED counterpart of
    event_type_cooccurrence's unordered pair counts (sequence mining /
    next-event-prediction baseline). One user-keyed window pass for
    lead() (total (ts, event_id) tiebreak), a |types|²-bounded hash
    aggregate, then a window-sum normalization over the TINY counts
    table. Probability is one double division over exact int64 counts.
    At 100 TB only (user, type, ts) column slices shuffle once."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    norm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(norm).cast("double")).alias("p"),
    ).orderBy("from_type", "to_type")


@register(
    "chi2_lang_source",
    oracle="""
with c as (select lang, source, cast(count(*) as bigint) as obs
           from documents group by 1, 2),
m as (
  select lang, source, obs,
         sum(obs) over (partition by lang) as rt,
         sum(obs) over (partition by source) as ct,
         sum(obs) over () as n
  from c
),
terms as (
  select (cast(obs as double) - cast(rt * ct as double) / cast(n as double))
         * (cast(obs as double) - cast(rt * ct as double) / cast(n as double))
         / (cast(rt * ct as double) / cast(n as double)) as term
  from m
),
dims as (select cast(count(distinct lang) as bigint) as n_langs,
                cast(count(distinct source) as bigint) as n_sources
         from documents)
select cast((select count(*) from c) as bigint) as n_cells,
       (select (n_langs - 1) * (n_sources - 1) from dims) as dof,
       round((select sum(term) from terms), 6) as chi2
""",
)
def q_chi2_lang_source(spark, sf_dir):
    """Pearson chi-square test of independence on the lang × source
    contingency table — the A/B-test / category-drift significance
    primitive. The contingency counts, marginals and N are exact
    int64 (one |langs|×|sources|-bounded aggregate plus window sums
    over the tiny cell table); each cell's (obs−exp)²/exp term is
    computed with the identical double expression in both engines and
    the final sum is rounded to 6 dp (house rule for order-dependent
    float reductions). dof = (r−1)(c−1). At 100 TB this is one
    map-side-combined aggregate — the statistic itself costs nothing."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    m = cells.select(
        "obs",
        F.sum("obs").over(Window.partitionBy("lang")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("source")).alias("ct"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast("double")
    term = (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp
    stats = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(term), 6).alias("chi2"),
    )
    dims = docs.agg(
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("long").alias("dof")
    )
    return stats.crossJoin(F.broadcast(dims)).select("n_cells", "dof", "chi2")


@register(
    "xml_roundtrip_rollup",
    oracle="""
select lang, source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as total_chars,
       cast(sum(length(text)) as bigint) as total_len,
       cast(sum(cast(concat('0x', substr(md5(text), 1, 15)) as bigint)
                % 1000000007) as bigint) as content_checksum
from documents group by lang, source
""",
)
def q_xml_roundtrip_rollup(spark, sf_dir):
    """XML source/sink round trip with value-fidelity proof: stage the
    documents table as XML (Spark 4 native writer — element escaping,
    one row element per doc), read it back with an EXPLICIT schema (no
    inference pass), and roll up per (lang, source) including a
    per-doc md5-derived content checksum (mod-prime, int64-safe).
    The oracle computes the same rollup from the PARQUET source — so
    equality proves the XML writer+reader preserved every text byte
    and every typed value, not just row counts. The staged copy is
    deleted before return (the aggregate is detached via eager
    localCheckpoint — the JSONL-quarantine lifecycle pattern)."""
    import os
    import shutil
    import tempfile

    from .sources.readers import read_xml
    from .sources.sinks import write_xml

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="xmlrt_")
    try:
        write_xml(docs, os.path.join(d, "docs"), row_tag="doc")
        back = read_xml(
            spark,
            os.path.join(d, "docs"),
            row_tag="doc",
            schema_ddl=(
                "doc_id bigint, text string, lang string, "
                "source string, n_chars bigint"
            ),
        )
        checksum = portable_hash60("text") % F.lit(1000000007)
        agg = back.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.length("text")).cast("long").alias("total_len"),
            F.sum(checksum).cast("long").alias("content_checksum"),
        )
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "ahash_hamming_matrix",
    oracle="""
with h as (
  select doc_id,
         case doc_id % 4
           when 0 then '0f0f0f0f0f0f0f0f'
           when 1 then '00000000ffffffff'
           when 2 then 'f0f0f0f00f0f0f0f'
           else 'f0f0f0f0f0f0f0f0' end as ahash
  from documents
),
g as (select ahash, cast(count(*) as bigint) as n_images from h group by ahash),
b as (select ahash, n_images,
             cast(concat('0x', substr(ahash, 1, 8)) as bigint) as hi,
             cast(concat('0x', substr(ahash, 9, 8)) as bigint) as lo
      from g)
select a.ahash as hash_a, c.ahash as hash_b,
       a.n_images as n_a, c.n_images as n_b,
       cast(bit_count(xor(a.hi, c.hi)) + bit_count(xor(a.lo, c.lo))
            as bigint) as hamming
from b a join b c on a.ahash < c.ahash
order by hash_a, hash_b
""",
)
def q_ahash_hamming_matrix(spark, sf_dir):
    """Hamming-distance matrix between the DISTINCT perceptual-hash
    groups — the verify stage of hamming-tolerant image dedup run at
    the right altitude: pair expansion happens over the tiny distinct-
    fingerprint aggregate (scalar-broadcast pattern: ≤ a few thousand
    rows even for a 100 TB image corpus), never over images. The
    distance itself is pure JVM bit arithmetic: the 64-bit hex
    fingerprint splits into two 32-bit halves (sign-safe in int64),
    hamming = bit_count(xor(hi)) + bit_count(xor(lo)) — the same
    expression in DuckDB. Groups at distance ≤ k would merge in the
    banded-LSH path; here the closed-form synthetic patterns sit at
    exactly 32/64 bits apart (pytest-pinned), so nothing merges."""
    from .operators.multimodal import image_ahash, synthetic_pattern_ppm_assets

    docs = load_table(spark, sf_dir, "documents")
    groups = (
        image_ahash(synthetic_pattern_ppm_assets(docs))
        .groupBy("ahash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_images"))
    )
    b = groups.select(
        "ahash",
        "n_images",
        F.conv(F.substring("ahash", 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring("ahash", 9, 8), 16, 10).cast("bigint").alias("lo"),
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(F.broadcast(c), F.col("a.ahash") < F.col("c.ahash"))
        .select(
            F.col("a.ahash").alias("hash_a"),
            F.col("c.ahash").alias("hash_b"),
            F.col("a.n_images").alias("n_a"),
            F.col("c.n_images").alias("n_b"),
            (
                F.bit_count(F.col("a.hi").bitwiseXOR(F.col("c.hi")))
                + F.bit_count(F.col("a.lo").bitwiseXOR(F.col("c.lo")))
            ).cast("long").alias("hamming"),
        )
        .orderBy("hash_a", "hash_b")
    )


@register(
    "seasonal_anomaly_profile",
    oracle="""
with b as (
  select event_type, cast(hour(ts) as bigint) as hod,
         cast(count(*) as bigint) as n,
         sum(cast(value as decimal(18,2))) as s,
         sum(cast(value as decimal(18,2)) * cast(value as decimal(18,2))) as s2
  from events group by 1, 2
),
stats as (
  select event_type, hod, n,
         cast(s as double) / cast(n as double) as mu,
         sqrt(greatest(cast(s2 as double) / cast(n as double)
              - (cast(s as double) / cast(n as double))
                * (cast(s as double) / cast(n as double)), 0)) as sigma
  from b
)
select s.event_type, s.hod, s.n,
       s.mu as mean_value,
       round(s.sigma, 6) as std_value,
       cast(sum(case when abs(e.value - s.mu) > 3 * s.sigma
                then 1 else 0 end) as bigint) as n_outliers
from events e
join stats s on e.event_type = s.event_type
            and cast(hour(e.ts) as bigint) = s.hod
group by s.event_type, s.hod, s.n, s.mu, s.sigma
order by s.event_type, s.hod
""",
)
def q_seasonal_anomaly_profile(spark, sf_dir):
    """Seasonality-aware anomaly profile: a per-(event_type,
    hour-of-day) baseline (mean, std from EXACT decimal first/second
    moments — the lineitem_moment_stats recipe) joined back onto the
    stream to count 3σ outliers against the hour's own baseline — the
    time-of-day-aware upgrade of event_value_anomalies' global z-score
    (a nightly batch job is not an anomaly at 3am just for being
    bigger than the daily mean). Two passes: one map-side-combined
    baseline aggregate (|types|×24 rows, broadcast back), one
    conditional re-aggregation. μ and σ are single deterministic
    double expressions over exact decimals, so the 3σ boolean is
    engine-identical; displayed stats are rounded 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("long")
    dec = F.col("value").cast("decimal(18,2)")
    b = ev.groupBy("event_type", hod.alias("hod")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("s2"),
    )
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    sigma = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n").cast("double") - mu * mu,
            F.lit(0.0),
        )
    )
    stats = b.select("event_type", "hod", "n", mu.alias("mu"), sigma.alias("sigma"))
    joined = ev.select(
        "event_type", hod.alias("hod"), "value"
    ).join(F.broadcast(stats), ["event_type", "hod"])
    return (
        joined.groupBy("event_type", "hod", "n", "mu", "sigma")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            "hod",
            "n",
            F.col("mu").alias("mean_value"),
            F.round("sigma", 6).alias("std_value"),
            "n_outliers",
        )
        .orderBy("event_type", "hod")
    )


@register(
    "psi_value_drift",
    headline=True,
    oracle="""
with ref as (select value from events where ts < timestamp '2024-01-16'),
cur as (select value from events where ts >= timestamp '2024-01-16'),
bnds as (select quantile_cont(value,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) as b from ref),
rbin as (select len(list_filter(bnds.b, x -> value > x)) as bin
         from ref, bnds),
cbin as (select len(list_filter(bnds.b, x -> value > x)) as bin
         from cur, bnds),
bins as (select unnest(generate_series(0, 9)) as bin),
rc as (select bin, cast(count(*) as bigint) as n_ref
       from rbin group by bin),
cc as (select bin, cast(count(*) as bigint) as n_cur
       from cbin group by bin),
tot as (select (select cast(count(*) as bigint) from ref) as nr,
               (select cast(count(*) as bigint) from cur) as nc),
m as (
  select b.bin,
         coalesce(rc.n_ref, 0) as n_ref, coalesce(cc.n_cur, 0) as n_cur,
         cast(coalesce(rc.n_ref, 0) + 1 as double) / cast(nr + 10 as double) as p,
         cast(coalesce(cc.n_cur, 0) + 1 as double) / cast(nc + 10 as double) as q
  from bins b left join rc on b.bin = rc.bin
              left join cc on b.bin = cc.bin
              cross join tot
)
select cast(bin as bigint) as bin, n_ref, n_cur,
       round((p - q) * ln(p / q), 9) as psi_term,
       round(sum((p - q) * ln(p / q)) over (), 6) as psi_total
from m order by bin
""",
)
def q_psi_value_drift(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the month (split at 2024-01-16) over reference-decile bins of
    ``value`` — the standard production drift monitor for model
    inputs/scores (PSI < 0.1 stable, > 0.25 drifted). Bin edges are
    the reference half's EXACT interpolated deciles (percentile ==
    DuckDB quantile_cont, proven bit-identical by value_percentiles),
    broadcast as one array row; bin assignment is size(filter(edges,
    e -> value > e)) — the identical comparison in both engines.
    Laplace-smoothed shares ((n+1)/(N+10)) keep empty bins finite and
    deterministic. Two aggregates over pruned column slices + a
    10-row join: at 100 TB the PSI costs two scans of one column."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    ref = ev.filter(F.col("ts") < cut).select("value")
    cur = ev.filter(F.col("ts") >= cut).select("value")
    qs = ", ".join(str(x / 10) for x in range(1, 10))
    # fetch the 9 decile edges ONCE as a bounded model probe (the
    # centroid_literal pattern — 9 doubles, not a data collect): the
    # lane previously re-derived the edge aggregate inside EACH
    # binned() consumer and paid two standalone half-count scans — 6
    # column scans total (the r13→r14 bench watch on this lane
    # prompted the plan read, VERDICT r13 #7). Now: one probe scan of
    # ref + one binning scan per half = 3 scans, one lazy DAG, and the
    # half totals come from a window over the 10-row bin frame.
    brow = ref.agg(F.expr(f"percentile(value, array({qs}))").alias("b")).first()
    edges = [float(x) for x in (brow["b"] or [])]
    b_lit = F.array(*[F.lit(e) for e in edges])
    def binned(df):
        return (
            df.select(
                F.size(F.filter(b_lit, lambda x: F.col("value") > x)).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
    rc = binned(ref).withColumnRenamed("n", "n_ref")
    cc = binned(cur).withColumnRenamed("n", "n_cur")
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    from pyspark.sql import Window

    w_all = Window.partitionBy()  # 10-row frame — bounded by design
    m = (
        bins.join(rc, "bin", "left")
        .join(cc, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
        .select(
            "bin",
            "n_ref",
            "n_cur",
            (
                (F.col("n_ref") + 1).cast("double")
                / (F.sum("n_ref").over(w_all) + 10).cast("double")
            ).alias("p"),
            (
                (F.col("n_cur") + 1).cast("double")
                / (F.sum("n_cur").over(w_all) + 10).cast("double")
            ).alias("q"),
        )
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))

    return m.select(
        F.col("bin").cast("long").alias("bin"),
        "n_ref",
        "n_cur",
        F.round(term, 9).alias("psi_term"),
        F.round(F.sum(term).over(Window.partitionBy()), 6).alias("psi_total"),
    ).orderBy("bin")


@register(
    "model_reliability_bins",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
{_HEUR_LABEL_CTES},
binned as (
  select h.doc_id, h.label, s.logit,
         ntile(10) over (order by s.logit, h.doc_id) as bin
  from heur h join scored s using (doc_id)
)
select cast(bin as bigint) as bin,
       cast(count(*) as bigint) as n,
       round(min(logit), 9) as min_logit,
       round(max(logit), 9) as max_logit,
       round(sum(logit) / count(*), 6) as mean_logit,
       cast(sum(case when label then 1 else 0 end) as bigint) as n_pos,
       cast(sum(case when label then 1 else 0 end) as double)
         / cast(count(*) as double) as pos_rate
from binned group by bin order by bin
""",
)
def q_model_reliability_bins(spark, sf_dir):
    """Reliability (calibration) diagram for the learned quality gate:
    equal-count score deciles (ntile over a TOTAL (logit, doc_id)
    order — deterministic under ties) with per-bin heuristic-label
    positive rate — read alongside model_quality_auc: AUC says the
    ranking discriminates, the bins say WHERE the score is trustworthy.
    Per-bin min/max logits are exact order statistics; the mean is the
    one rounded float reduction; the positive rate is an exact integer
    division. Round 8: the decile assignment never puts a document row
    through an unpartitioned window — the 1-based position in the
    (logit, doc_id) total order is cum_before(logit) (a running count
    over the NDV-sized logit histogram) plus a logit-PARTITIONED
    doc_id row_number, and ntile's SQL-standard bucket arithmetic
    (first n%10 buckets one row larger) is a closed form over
    (position, n): ceil division in integers, bit-identical to the
    window-function ntile both engines define (operators/ranks.py:
    exact_ntile; equivalence pinned by tests/test_ranks.py)."""
    from .operators.curation import hashed_feature_logit, quality_gate
    from .operators.ranks import exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    heur = quality_gate(docs).select("doc_id", F.col("keep").alias("label"))
    model = hashed_feature_logit(docs).select("doc_id", "logit")
    binned = exact_ntile(
        heur.join(model, "doc_id"), 10, "logit", "doc_id", out_col="bin"
    ).select("label", "logit", "bin")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("logit"), 9).alias("min_logit"),
            F.round(F.max("logit"), 9).alias("max_logit"),
            F.round(F.sum("logit") / F.count(F.lit(1)), 6).alias("mean_logit"),
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("n_pos"),
            (
                F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("pos_rate"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            "n", "min_logit", "max_logit", "mean_logit", "n_pos", "pos_rate",
        )
        .orderBy("bin")
    )


@register(
    "events_gap_interpolate",
    oracle="""
with hourly as (
  select event_type, date_trunc('hour', ts) as hour_start,
         cast(count(*) as bigint) as n_events,
         sum(cast(value as decimal(12,2))) as sv
  from events group by 1, 2
),
grid as (
  select event_type,
         unnest(generate_series(min(hour_start), max(hour_start),
                                interval 1 hour)) as hour_start
  from hourly group by event_type
),
g as (
  select g.event_type, g.hour_start,
         coalesce(h.n_events, 0) as n_events,
         cast(h.sv as double) as sv,
         epoch_us(g.hour_start) as pos
  from grid g
  left join hourly h
    on g.event_type = h.event_type and g.hour_start = h.hour_start
),
n as (
  select *,
         last_value(sv ignore nulls) over (
           partition by event_type order by hour_start
           rows between unbounded preceding and current row) as prev_val,
         last_value(case when sv is not null then pos end ignore nulls) over (
           partition by event_type order by hour_start
           rows between unbounded preceding and current row) as prev_pos,
         first_value(sv ignore nulls) over (
           partition by event_type order by hour_start
           rows between current row and unbounded following) as next_val,
         first_value(case when sv is not null then pos end ignore nulls) over (
           partition by event_type order by hour_start
           rows between current row and unbounded following) as next_pos
  from g
)
select event_type, hour_start, n_events,
       case when sv is not null then sv
            when prev_val is null then next_val
            when next_val is null then prev_val
            else prev_val + (next_val - prev_val)
                 * (cast(pos - prev_pos as double)
                    / cast(next_pos - prev_pos as double))
       end as sum_value,
       sv is null as interpolated
from n
order by event_type, hour_start
""",
)
def q_events_gap_interpolate(spark, sf_dir):
    """Gap filling by LINEAR INTERPOLATION (the sensor-series upgrade
    of events_gap_fill's zero-fill): missing hourly buckets take
    prev + (next−prev)·Δt/ΔT between their nearest observed neighbors
    (IGNORE NULLS window carries), edge gaps carry the nearest value.
    Same grid shape as gap_fill (per-type sequence explode, time-
    bounded), plus two ordered window passes over the HOURLY table —
    the windows run over types × hours rows, never raw events. The
    interpolation weight is an exact integer µs ratio in one double
    expression, identical in both engines."""
    from pyspark.sql import Window

    from .operators.timeseries import gap_fill_hourly

    base = gap_fill_hourly(
        load_table(spark, sf_dir, "events"), keep_null_sum=True
    )
    pos = F.unix_micros(F.col("hour_start").cast("timestamp"))
    g = base.withColumn("pos", pos)
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    sv = F.col("sum_value_raw")
    obs_pos = F.when(sv.isNotNull(), F.col("pos"))
    n = g.select(
        "event_type",
        "hour_start",
        "n_events",
        sv.alias("sv"),
        "pos",
        F.last(sv, ignorenulls=True).over(back).alias("prev_val"),
        F.last(obs_pos, ignorenulls=True).over(back).alias("prev_pos"),
        F.first(sv, ignorenulls=True).over(fwd).alias("next_val"),
        F.first(obs_pos, ignorenulls=True).over(fwd).alias("next_pos"),
    )
    interp = (
        F.when(F.col("sv").isNotNull(), F.col("sv"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(
            F.col("prev_val")
            + (F.col("next_val") - F.col("prev_val"))
            * (
                (F.col("pos") - F.col("prev_pos")).cast("double")
                / (F.col("next_pos") - F.col("prev_pos")).cast("double")
            )
        )
    )
    return n.select(
        "event_type",
        "hour_start",
        "n_events",
        interp.alias("sum_value"),
        F.col("sv").isNull().alias("interpolated"),
    ).orderBy("event_type", "hour_start")


@register(
    "user_golden_profile",
    oracle="""
with latest as (
  select user_id, props,
         row_number() over (partition by user_id
                            order by ts desc, event_id desc) as rn
  from events where props is not null
),
mode_t as (
  select user_id, event_type,
         row_number() over (partition by user_id
                            order by count(*) desc, event_type) as rn
  from events group by user_id, event_type
)
select e.user_id,
       cast(count(*) as bigint) as n_events,
       min(e.ts) as first_seen,
       max(e.ts) as last_seen,
       cast(sum(cast(e.value as decimal(18,2))) as double) as total_value,
       any_value(m.event_type) as top_event_type,
       any_value(l.props) as latest_props
from events e
join mode_t m on e.user_id = m.user_id and m.rn = 1
left join latest l on e.user_id = l.user_id and l.rn = 1
group by e.user_id
order by e.user_id
""",
)
def q_user_golden_profile(spark, sf_dir):
    """Golden-record consolidation (the MDM survivorship pattern):
    one trusted profile per user assembled with PER-FIELD rules —
    recency wins for the mutable attribute (latest non-null props,
    total (ts, event_id) tiebreak), frequency wins for the categorical
    (modal event_type, count-then-name tiebreak), and the numerics
    aggregate exactly (count / min / max / decimal sum). Three
    user-keyed aggregations joined on the key — one shuffle partition
    scheme reused across all three (co-partitioned joins, no extra
    exchange at scale); survivorship never collects rows to the
    driver."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    latest = (
        ev.filter(F.col("props").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("props").alias("latest_props"))
    )
    mode_t = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("cnt").desc(), F.col("event_type")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"))
    )
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return (
        base.join(mode_t, "user_id")
        .join(latest, "user_id", "left")
        .select(
            "user_id", "n_events", "first_seen", "last_seen",
            "total_value", "top_event_type", "latest_props",
        )
        .orderBy("user_id")
    )


@register(
    "user_recent_event_arrays",
    oracle="""
with l as (
  select user_id,
         list(event_type order by ts desc, event_id desc) as ts_,
         list(value order by ts desc, event_id desc) as vs,
         cast(count(*) as bigint) as n_events
  from events group by user_id
)
select user_id,
       array_to_string(ts_[1:3], ',') as recent_types,
       vs[1] as v1, vs[2] as v2, vs[3] as v3,
       n_events
from l
order by user_id
""",
)
def q_user_recent_event_arrays(spark, sf_dir):
    """Ordered array aggregation: each user's 3 most recent event
    types/values as ARRAYS — the feature-store \"recent history as a
    list column\" shape sequence models consume. Spark has no
    ``list(x ORDER BY y)``, so the portable construction is
    slice(transform(array_sort(collect_list(struct(keys..., payload))),
    s -> payload), 1, 3): ONE hash aggregate collecting structs whose
    leading fields are the sort key (descending via negated/bit-flipped
    keys), sorted per-row JVM-side, then projected and sliced — no
    window pass, no second shuffle, and the per-group buffer is the
    group's events (cap it upstream with a window top-N when groups
    are unbounded; here groups are user-sized). The type history is
    string-joined and the values land in scalar columns (driver-
    comparator convention: no raw array cells in oracle outputs)."""
    ev = load_table(spark, sf_dir, "events")
    item = F.struct(
        (-F.unix_micros(F.col("ts").cast("timestamp"))).alias("k1"),
        (-F.col("event_id")).alias("k2"),
        F.col("event_type").alias("t"),
        F.col("value").alias("v"),
    )
    sorted_items = F.array_sort(F.collect_list(item))
    vs = F.transform(sorted_items, lambda s: s["v"])
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(F.transform(sorted_items, lambda s: s["t"]), 1, 3), ","
            ).alias("recent_types"),
            F.element_at(vs, 1).alias("v1"),
            F.element_at(vs, 2).alias("v2"),
            F.element_at(vs, 3).alias("v3"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_mv_refresh",
    oracle="""
select event_type,
       cast(count(*) as bigint) as n,
       cast(sum(cast(value as decimal(18,2))) as double) as total_value,
       min(value) as vmin,
       max(value) as vmax
from events group by event_type
""",
)
def q_streaming_mv_refresh(spark, sf_dir):
    """Streaming materialized-view maintenance
    (streaming/upsert.py:run_streaming_mv_refresh): the events table
    streamed in 4 micro-batches through a foreachBatch agg-state
    merge; the oracle is the FULL batch recompute — equality proves
    the refresh is exact under micro-batch slicing (the streaming twin
    of incremental_mv_update)."""
    from .streaming.upsert import run_streaming_mv_refresh

    return run_streaming_mv_refresh(spark, sf_dir)


@register(
    "fk_integrity_audit",
    oracle="""
select * from (
  select 'orders.custkey->customer' as relationship,
         (select cast(count(*) as bigint) from orders) as n_child,
         (select cast(count(*) as bigint) from orders o
          where not exists (select 1 from customer c
                            where c.c_custkey = o.o_custkey)) as n_orphans
  union all
  select 'lineitem.orderkey->orders',
         (select cast(count(*) as bigint) from lineitem),
         (select cast(count(*) as bigint) from lineitem l
          where not exists (select 1 from orders o
                            where o.o_orderkey = l.l_orderkey))
  union all
  select 'lineitem.partkey->part',
         (select cast(count(*) as bigint) from lineitem),
         (select cast(count(*) as bigint) from lineitem l
          where not exists (select 1 from part p
                            where p.p_partkey = l.l_partkey))
  union all
  select 'customer.nationkey->nation',
         (select cast(count(*) as bigint) from customer),
         (select cast(count(*) as bigint) from customer c
          where not exists (select 1 from nation n
                            where n.n_nationkey = c.c_nationkey))
) order by relationship
""",
)
def q_fk_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the warehouse: orphan counts
    for four FK relationships via LEFT ANTI joins (the DQ check a
    lakehouse runs because parquet enforces no constraints). Each
    anti join shuffles only the key column pair; the parent side of
    the small dims broadcasts under AQE. Zero orphans on conforming
    TPC-H data — the point is the audit shape; the pipeline's DQ gates
    (C3/C4) would consume n_orphans exactly like a null-rule count."""
    rels = [
        ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    out = None
    for name, child, ck, parent, pk in rels:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pk)
        row = (
            c.join(p, c[ck] == p[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            .crossJoin(
                F.broadcast(
                    c.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
                )
            )
            .select(F.lit(name).alias("relationship"), "n_child", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


#: 3-day lookback for multi-touch attribution, in microseconds.
_MTA_W_US = 3 * 24 * 3600 * 1_000_000


@register(
    "attribution_multi_touch",
    headline=True,
    oracle=f"""
with conv as (
  select event_id as conv_id, user_id, epoch_us(ts) as t_c,
         cast(value as double) as value
  from events where event_type = 'purchase'
),
touch as (
  select user_id, event_type as channel, epoch_us(ts) as t_t
  from events where event_type in ('click', 'view', 'signup')
),
pairs as (
  select c.conv_id, c.value, t.channel
  from conv c join touch t on c.user_id = t.user_id
   and t.t_t >= c.t_c - {_MTA_W_US} and t.t_t < c.t_c
),
n as (select conv_id, cast(count(*) as bigint) as n_touches
      from pairs group by conv_id),
credit as (
  select p.channel, p.conv_id,
         p.value / cast(n.n_touches as double) as credit
  from pairs p join n using (conv_id)
)
select * from (
  select channel,
         cast(count(distinct conv_id) as bigint) as n_conversions,
         cast(count(*) as bigint) as n_touches,
         round(sum(credit), 6) as credit_total
  from credit group by channel
  union all
  select '(direct)', cast(count(*) as bigint), cast(0 as bigint),
         round(sum(value), 6)
  from conv c
  where not exists (select 1 from pairs p where p.conv_id = c.conv_id)
) order by channel
""",
)
def q_attribution_multi_touch(spark, sf_dir):
    """Multi-touch LINEAR attribution: every click/view/signup in the
    3 days before a purchase shares the purchase value equally — the
    fractional-credit counterpart of attribution_last_touch.

    .. warning:: **density² scale profile.** This UNCAPPED variant
       enumerates every (conversion, in-window touch) pair, so when
       per-user event density grows with the corpus the pair count —
       and the wall clock — grows quadratically (measured ×68 at ×30
       data). It is kept as the exact-semantics form; for production
       scale use :func:`q_attribution_multi_touch_capped`
       (``attribution_multi_touch_capped``), whose plan bounds the
       enumeration at cap×conversions by construction and is the
       documented default (3.0× faster at ×30, linear between tiers).

    The
    conversion×touch pairing uses the bucketized interval-join shape
    from operators/rangejoin.py (each conversion's lookback interval
    lands in ≤2 W-sized buckets, so the join runs on (user, bucket)
    with bounded fan-out — no per-user cross product on hot users);
    per-conversion touch counts come from one aggregate joined back.
    Credit is one double division per pair; channel totals are rounded
    float reductions (house rule). Conversions with no touches land in
    an explicit '(direct)' bucket so credit is conserved."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = F.lit(_MTA_W_US)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("key"),
        us.alias("t_c"),
        F.col("value").cast("double").alias("value"),
    )
    conv_b = conv.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("t_c") - w) / w),
                    F.floor((F.col("t_c") - 1) / w),
                )
            )
        ),
    )
    touch = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("key"),
        F.col("event_type").alias("channel"),
        us.alias("t_t"),
        F.floor(us / w).alias("bucket"),
    )
    pairs = (
        conv_b.join(touch, ["key", "bucket"])
        .filter((F.col("t_t") >= F.col("t_c") - w) & (F.col("t_t") < F.col("t_c")))
        .select("conv_id", "value", "channel")
    )
    # window count over the conv_id partitioning instead of groupBy +
    # join-back (guide §2.4) — one exchange fewer, same values.
    credit = pairs.withColumn(
        "n_touches", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    ).select(
        "channel",
        "conv_id",
        (F.col("value") / F.col("n_touches").cast("double")).alias("credit"),
    )
    return _attribution_channel_totals(conv, credit)


def _attribution_channel_totals(conv, credit) -> DataFrame:
    """Channel totals + '(direct)' bucket in ONE aggregation over a
    conv-spine LEFT join (optimization r14, second segment).

    The first form computed by_channel from the credit rows and
    '(direct)' as a separate conv-anti-join-credit aggregate, then
    unioned — and the anti join's right side RECOMPUTED the whole
    touch-window/slot pipeline (the duplicated subtrees diverge after
    column pruning, so ReuseExchange cannot collapse them; the cold
    stage profile showed both window chains executing). With conv as
    the spine, the credit pipeline appears exactly once: a conversion
    with no credit rows survives the left join with NULL channel and
    coalesces into '(direct)'.

    Value-equal to the union form: per channel group the rows are the
    same credit rows (n_touches = count(channel) counts them all,
    channel is never NULL there); the '(direct)' group has one row per
    untouched conversion (n_touches counts zero NULL channels, credit
    falls back to the conversion value — the oracle's sum(value)).
    Interleaved medians at sf0.1: capped 1.29 -> 1.14 s, others within
    noise, collect() bit-equal on all three lanes.

    The '(direct)' group is GUARANTEED (ADVICE r14 medium): the
    oracles' UNION ALL branch is an ungrouped aggregate that always
    emits one row — ('(direct)', 0, 0, NULL) when every conversion has
    a credited touch — while a groupBy emits no group when no
    NULL-channel rows exist. One all-NULL marker row (ch='(direct)',
    everything else NULL) unioned below the join fixes that with zero
    extra exchanges: count_distinct/count ignore its NULLs and
    sum(NULL) contributes nothing, so on data WITH direct conversions
    every value is bit-identical to before, and on data without any
    the group materializes as the oracle's (0, 0, NULL) row.
    """
    joined = conv.select("conv_id", "value").join(credit, "conv_id", "left")
    j = joined.select(
        F.coalesce(F.col("channel"), F.lit("(direct)")).alias("ch"),
        "channel",
        "conv_id",
        "credit",
        "value",
    )
    marker = j.sparkSession.range(1).select(
        F.lit("(direct)").alias("ch"),
        *[
            F.lit(None).cast(j.schema[c].dataType).alias(c)
            for c in ("channel", "conv_id", "credit", "value")
        ],
    )
    j = j.unionByName(marker)
    return (
        j.groupBy("ch")
        .agg(
            F.count_distinct("conv_id").cast("long").alias("n_conversions"),
            F.count("channel").cast("long").alias("n_touches"),
            F.round(
                F.sum(
                    F.when(F.col("channel").isNull(), F.col("value")).otherwise(
                        F.col("credit")
                    )
                ),
                6,
            ).alias("credit_total"),
        )
        .withColumnRenamed("ch", "channel")
        .orderBy("channel")
    )


#: Per-conversion touch cap for the capped attribution variant.
_MTA_CAP = 8


@register(
    "attribution_multi_touch_capped",
    headline=True,
    oracle=f"""
with conv as (
  select event_id as conv_id, user_id, epoch_us(ts) as t_c,
         cast(value as double) as value
  from events where event_type = 'purchase'
),
touch as (
  select user_id, event_type as channel, epoch_us(ts) as t_t
  from events where event_type in ('click', 'view', 'signup')
),
pairs as (
  select c.conv_id, c.value, t.channel, t.t_t
  from conv c join touch t on c.user_id = t.user_id
   and t.t_t >= c.t_c - {_MTA_W_US} and t.t_t < c.t_c
),
capped as (
  select conv_id, value, channel from (
    select p.*,
           row_number() over (partition by conv_id
                              order by t_t desc, channel asc) as rn
    from pairs p
  ) where rn <= {_MTA_CAP}
),
n as (select conv_id, cast(count(*) as bigint) as n_touches
      from capped group by conv_id),
credit as (
  select p.channel, p.conv_id,
         p.value / cast(n.n_touches as double) as credit
  from capped p join n using (conv_id)
)
select * from (
  select channel,
         cast(count(distinct conv_id) as bigint) as n_conversions,
         cast(count(*) as bigint) as n_touches,
         round(sum(credit), 6) as credit_total
  from credit group by channel
  union all
  select '(direct)', cast(count(*) as bigint), cast(0 as bigint),
         round(sum(value), 6)
  from conv c
  where not exists (select 1 from pairs p where p.conv_id = c.conv_id)
) order by channel
""",
)
def q_attribution_multi_touch_capped(spark, sf_dir):
    """Multi-touch linear attribution with a PER-CONVERSION TOUCH CAP
    (VERDICT r6/r7 directive): only the 8 most-recent touches in the
    lookback share the credit. The cap is the SCALE control the
    uncapped variant lacks — and this plan bounds the ENUMERATION,
    not just the output. A first cut (interval-join all pairs, then
    WindowGroupLimit top-8 per conversion) still enumerated
    conversions × touches-in-window before discarding: on the ×10
    tier (where per-user touch density itself grows ×10, so pair
    count grows ~×100) it measured ×11.8 vs the uncapped ×20. This
    plan never materializes more than cap rows per conversion:

    1. number each user's touches once — ``seq`` = row_number over
       (t_t asc, channel desc), so the LARGEST seqs are exactly the
       oracle's (t_t desc, channel asc) top ranks;
    2. as-of (union + keyed-window carry, operators/asof.py shape)
       each conversion to ``end`` = seq of its latest strictly-prior
       touch (probe at t_c − 1 µs makes the inclusive carry strict);
    3. explode each conversion into ≤cap (key, end − off) slot keys
       and EQUI-join back to the touch sequence — join output is
       ≤ cap × conversions BY CONSTRUCTION, regardless of per-user
       density (the 8 most recent touches before t_c occupy
       consecutive seqs end-7..end, so the slots are exactly the
       oracle's top-8; the lookback filter then drops slots older
       than the window — anything it drops was outside the top-8
       anyway, never in-window, because in-window touches are by
       definition the most recent ones).

    Cost at 100 TB: two keyed shuffles of the touch table (seq
    window + as-of union window) and one (key, seq) equi-join of
    cap × conversions rows — O(events log events), no density² term.
    The '(direct)' bucket = conversions with zero in-window slots;
    a conversion whose latest prior touch is out-of-window has no
    in-window touches at all (the latest touch is the most recent),
    so left-anti on the capped rows is exact and credit is
    conserved."""
    ev = load_table(spark, sf_dir, "events")
    conv, capped = _capped_touch_slots(ev)
    capped = capped.select("conv_id", "value", "channel")
    # per-conversion touch count via ONE window over the conv_id
    # partitioning instead of groupBy + join-back (optimization r14,
    # guide §2.4: two operations keyed the same way share one
    # exchange) — same values, one fewer aggregate + join.
    credit = capped.withColumn(
        "n_touches", F.count(F.lit(1)).over(Window.partitionBy("conv_id"))
    ).select(
        "channel",
        "conv_id",
        (F.col("value") / F.col("n_touches").cast("double")).alias("credit"),
    )
    # conv-spine left join + coalesce instead of union + anti join —
    # see _attribution_channel_totals (the anti join recomputed the
    # whole slot pipeline as its right side).
    return _attribution_channel_totals(conv, credit)


def _capped_touch_slots(ev, cap: int = _MTA_CAP):
    """The slot-enumeration core shared by the capped attribution
    family (see q_attribution_multi_touch_capped's docstring for the
    full plan rationale): returns (conv, capped) where ``conv`` is the
    conversion frame (conv_id, key, t_c, value) and ``capped`` holds
    the ≤``cap`` most-recent in-window touches per conversion as
    (conv_id, value, channel, t_c, t_t) — ≤ cap × conversions rows BY
    CONSTRUCTION, never density²."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = F.lit(_MTA_W_US)
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("key"),
        us.alias("t_c"),
        F.col("value").cast("double").alias("value"),
    )
    touch = (
        ev.filter(F.col("event_type").isin("click", "view", "signup"))
        .select(
            F.col("user_id").alias("key"),
            F.col("event_type").alias("channel"),
            us.alias("t_t"),
        )
        .withColumn(
            "seq",
            F.row_number().over(
                Window.partitionBy("key").orderBy(
                    F.col("t_t").asc(), F.col("channel").desc()
                )
            ),
        )
    )
    state = touch.select(
        "key",
        F.col("t_t").alias("t"),
        F.lit(1).alias("is_state"),
        "seq",
        F.lit(None).cast("long").alias("conv_id"),
        F.lit(None).cast("long").alias("t_c"),
        F.lit(None).cast("double").alias("value"),
    )
    probe = conv.select(
        "key",
        (F.col("t_c") - 1).alias("t"),
        F.lit(0).alias("is_state"),
        F.lit(None).cast("int").alias("seq"),
        "conv_id",
        "t_c",
        "value",
    )
    carry = (
        Window.partitionBy("key")
        .orderBy(F.col("t").asc(), F.col("is_state").desc(), F.col("seq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ends = (
        state.unionByName(probe)
        .withColumn("end", F.last("seq", ignorenulls=True).over(carry))
        .filter((F.col("is_state") == 0) & F.col("end").isNotNull())
        .select("conv_id", "t_c", "value", "key", "end")
    )
    slots = ends.withColumn(
        "seq",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.least(F.lit(cap - 1), F.col("end") - 1)
                ),
                lambda off: F.col("end") - off,
            )
        ),
    ).drop("end")
    capped = (
        slots.join(touch, ["key", "seq"])
        .filter(F.col("t_t") >= F.col("t_c") - w)
        .select("conv_id", "value", "channel", "t_c", "t_t")
    )
    return conv, capped


@register(
    "kwic_snippets",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
hits as (
  select doc_id, toks, 'merge' as term, list_position(toks, 'merge') as pos
  from t
  union all
  select doc_id, toks, 'window' as term, list_position(toks, 'window') as pos
  from t
),
h as (select * from hits where pos is not null and pos > 0)
select doc_id, term, cast(pos as bigint) as pos,
       array_to_string(toks[greatest(pos - 3, 1):pos + 3], ' ') as snippet
from h
order by doc_id, term
""",
)
def q_kwic_snippets(spark, sf_dir):
    """Keyword-in-context extraction (the search-result snippet layer
    over BM25 retrieval): for each query term, the FIRST occurrence
    position and a ±3-token context window per matching document.
    Pure array expressions — array_position + slice over the token
    array, one per term, unioned — no explode of the token stream, so
    the work is O(docs × terms) map-side with zero shuffle (the final
    sort is presentation). 1-based positions and inclusive slice
    bounds are written identically for Spark and DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    outs = []
    for term in ("merge", "window"):
        pos = F.array_position(toks, term)
        start = F.greatest(pos - 3, F.lit(1))
        # slice length: (pos+3) - start + 1, clipped by array end
        length = F.col("pos") + 3 - F.col("start") + 1
        outs.append(
            docs.select(
                "doc_id",
                F.lit(term).alias("term"),
                pos.alias("pos"),
                start.alias("start"),
                toks.alias("toks"),
            )
            .filter(F.col("pos") > 0)
            .select(
                "doc_id",
                "term",
                F.col("pos").cast("long").alias("pos"),
                F.array_join(
                    F.slice(F.col("toks"), F.col("start"), length), " "
                ).alias("snippet"),
            )
        )
    out = outs[0].unionByName(outs[1])
    return out.orderBy("doc_id", "term")


@register(
    "benford_value_audit",
    oracle="""
with d as (
  select cast(substr(cast(cast(round(value * 1000000) as bigint) as varchar), 1, 1)
              as bigint) as digit
  from events where value >= 0.01
),
c as (select digit, cast(count(*) as bigint) as n from d group by digit),
tot as (select cast(count(*) as bigint) as total from d),
e as (
  select g.digit, coalesce(c.n, 0) as n,
         ln(1.0 + 1.0 / cast(g.digit as double)) / ln(10.0) as expected_p
  from (select unnest(generate_series(1, 9)) as digit) g
  left join c on g.digit = c.digit
)
select cast(e.digit as bigint) as digit, e.n,
       round(e.expected_p, 9) as expected_p,
       cast(e.n as double) / cast(tot.total as double) as observed_p,
       round((cast(e.n as double) / cast(tot.total as double) - e.expected_p)
             * (cast(e.n as double) / cast(tot.total as double) - e.expected_p)
             / e.expected_p, 9) as chi2_term
from e cross join tot
order by digit
""",
)
def q_benford_value_audit(spark, sf_dir):
    """Benford's-law first-significant-digit audit of transaction
    values — the classic forensic-accounting screen (fabricated
    amounts drift from the log distribution P(d) = log10(1 + 1/d)).
    The digit is extracted EXACTLY: MICROS as int64 → leading decimal
    character — no float log10/pow hops that could round differently
    across engines. Micros, not cents (ADVICE r6): at cents grain a
    value in [0.01, 0.095) rounds across a digit boundary (0.019 →
    2 cents → digit '2', true FSD 1); the micro grid pushes that
    boundary class below the >= 0.01 admission filter entirely, so
    every admitted value reports its true first significant digit.
    (Grain caveat: exact for values up to ~9.2e12 — int64 ceiling at
    1e6 scale — far above any transaction amount; both engines
    round half-away-from-zero for positives, so the int64 is
    identical.) One map-side-combined 9-bucket aggregate, a
    broadcast scalar total, and literal expected frequencies; per-
    digit chi-square terms emitted for a gate to sum (the synthetic
    uniform-ish testdata of course FAILS Benford — the audit's
    correctness, not its verdict, is what the oracle pins)."""
    ev = load_table(spark, sf_dir, "events")
    digit = F.substring(
        F.round(F.col("value") * 1000000).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    d = ev.filter(F.col("value") >= 0.01).select(digit.alias("digit"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("total"))
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    expected = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(F.lit(10.0))
    n0 = F.coalesce("n", F.lit(0))
    obs = n0.cast("double") / F.col("total").cast("double")
    return (
        digits.join(c, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("digit").cast("long").alias("digit"),
            n0.cast("long").alias("n"),
            F.round(expected, 9).alias("expected_p"),
            obs.alias("observed_p"),
            F.round((obs - expected) * (obs - expected) / expected, 9).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@register(
    "cohort_ltv_curves",
    oracle="""
with cohorts as (
  select user_id, date_trunc('week', min(ts)) as cohort_week
  from events group by user_id
),
sizes as (select cohort_week, cast(count(*) as bigint) as cohort_users
          from cohorts group by cohort_week),
activity as (
  select c.cohort_week,
         cast(date_diff('day', c.cohort_week, date_trunc('week', e.ts)) / 7
              as bigint) as age_week,
         e.user_id,
         case when e.event_type = 'purchase'
              then cast(e.value as decimal(18,2))
              else cast(0 as decimal(18,2)) end as rev
  from events e join cohorts c using (user_id)
),
w as (
  select cohort_week, age_week,
         cast(count(distinct user_id) as bigint) as n_active,
         sum(rev) as revenue
  from activity group by 1, 2
)
select w.cohort_week, w.age_week, w.n_active,
       cast(w.revenue as double) as revenue,
       cast(sum(w.revenue) over (partition by w.cohort_week
                                 order by w.age_week) as double) as cum_revenue,
       cast(sum(w.revenue) over (partition by w.cohort_week
                                 order by w.age_week) as double)
         / cast(s.cohort_users as double) as ltv_per_user
from w join sizes s using (cohort_week)
order by cohort_week, age_week
""",
)
def q_cohort_ltv_curves(spark, sf_dir):
    """Cohort lifetime-value curves: users grouped by first-seen week,
    purchase revenue accumulated per cohort-age week, cumulative LTV
    per cohort user — the marketing-analytics companion of
    retention_cohorts (revenue curves instead of comeback rates).
    Revenue accumulates in decimal(18,2) end to end (the running
    cumulative included — exact, order-safe), with ONE double cast per
    output column; ages are exact integer day arithmetic on truncated
    weeks. Shape: a user-keyed first-seen aggregate broadcast back,
    one (cohort, age) aggregate, then a window cumsum over the tiny
    curve table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = lambda c: F.date_trunc("week", c).cast("timestamp_ntz")  # noqa: E731
    cohorts = ev.groupBy("user_id").agg(wk(F.min("ts")).alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(18,2)")
    ).otherwise(F.lit(0).cast("decimal(18,2)"))
    activity = ev.join(cohorts, "user_id").select(
        "cohort_week",
        (
            F.datediff(wk(F.col("ts")), F.col("cohort_week")) / 7
        ).cast("bigint").alias("age_week"),
        "user_id",
        rev.alias("rev"),
    )
    w = activity.groupBy("cohort_week", "age_week").agg(
        F.count_distinct("user_id").cast("long").alias("n_active"),
        F.sum("rev").alias("revenue"),
    )
    cum = F.sum("revenue").over(
        Window.partitionBy("cohort_week").orderBy("age_week")
    )
    return (
        w.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "n_active",
            F.col("revenue").cast("double").alias("revenue"),
            cum.cast("double").alias("cum_revenue"),
            (cum.cast("double") / F.col("cohort_users").cast("double")).alias(
                "ltv_per_user"
            ),
        )
        .orderBy("cohort_week", "age_week")
    )


@register(
    "latest_order_argmax_agg",
    oracle="""
with o as (
  select *,
         (epoch_us(o_orderdate) // 86400000000) * 1000000000000
           + o_orderkey as ak
  from orders
)
select o_custkey,
       arg_max(o_orderkey, ak) as o_orderkey,
       max(o_orderdate) as o_orderdate,
       arg_max(o_totalprice, ak) as o_totalprice
from o
group by o_custkey
order by o_custkey
""",
)
def q_latest_order_argmax_agg(spark, sf_dir):
    """Latest order per customer as an ARGMAX AGGREGATE (max_by over a
    packed (date, orderkey) bigint — total order, so ties are deterministic)
    instead of the row_number window latest_order_per_customer uses.
    Same result, different scale profile: one map-side-combined hash
    aggregate with no per-partition sort and constant per-key state —
    the shape to prefer when groups are huge or the full row is not
    needed. The window form wins when many columns of the argmax row
    must survive; both are first-class here, value-checked against
    the same oracle semantics."""
    o = load_table(spark, sf_dir, "orders")
    # packed total-order key: day-scale date (exact integer division)
    # shifted past any orderkey — one bigint, max_by-able in both
    # engines (struct ordering keys are Spark-only)
    key = (
        F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        * F.lit(1_000_000_000_000)
        + F.col("o_orderkey")
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", key).alias("o_orderkey"),
            F.max("o_orderdate").alias("o_orderdate"),
            F.max_by("o_totalprice", key).alias("o_totalprice"),
        )
        .orderBy("o_custkey")
    )


@register(
    "temperature_mix_weights",
    oracle="""
with c as (select lang, cast(count(*) as bigint) as n_docs,
                  cast(sum(n_chars) as bigint) as n_chars
           from documents group by lang),
p as (select *, pow(cast(n_docs as double), 0.7) as raw_w from c),
t as (select sum(raw_w) as tot from p)
select lang, n_docs, n_chars,
       round(raw_w / tot, 9) as mix_weight,
       round(raw_w / tot, 9)
         / (cast(n_docs as double)
            / (select sum(cast(n_docs as double)) from c)) as upsample_factor
from p cross join t
order by lang
""",
)
def q_temperature_mix_weights(spark, sf_dir):
    """Temperature-based multilingual mixing (the mT5/XLM-R alpha
    sampling rule, alpha = 0.7): per-language sampling weight
    proportional to n_docs^alpha, normalized — small languages
    upsample, head languages downsample, with the exact upsample
    factor vs natural frequency reported. One tiny per-lang rollup +
    scalar broadcast; pow/division are per-row doubles with the
    weight rounded 9 dp (house float rule). The factors feed
    corpus_mix_weighted's deterministic sampler as its weight map."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    p = c.withColumn("raw_w", F.pow(F.col("n_docs").cast("double"), 0.7))
    t = p.agg(
        F.sum("raw_w").alias("tot"),
        F.sum(F.col("n_docs").cast("double")).alias("n_total"),
    )
    w = F.round(F.col("raw_w") / F.col("tot"), 9)
    return (
        p.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            "n_chars",
            w.alias("mix_weight"),
            (
                w / (F.col("n_docs").cast("double") / F.col("n_total"))
            ).alias("upsample_factor"),
        )
        .orderBy("lang")
    )


@register(
    "hard_negatives_ann",
    oracle="""
with a as (select * from embeddings where vec_id < 200),
p as (
  select a.vec_id, a.label,
         b.vec_id as neg_vec_id, b.label as neg_label,
         round(
           list_dot_product(list_transform(a.embedding, x -> cast(x as double)),
                            list_transform(b.embedding, x -> cast(x as double)))
           / sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double)))
                * list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double)))),
           6) as cos_sim
  from a join embeddings b on a.label <> b.label
)
select vec_id, cast(label as int) as label,
       cast(neg_vec_id as bigint) as neg_vec_id,
       cast(neg_label as int) as neg_label, cos_sim
from p
qualify row_number() over (partition by vec_id
                           order by cos_sim desc, neg_vec_id asc) = 1
order by vec_id
""",
)
def q_hard_negatives_ann(spark, sf_dir):
    """Hard-negative mining for contrastive training: each anchor's
    most-similar vector with a DIFFERENT label — the negatives that
    actually move a metric-learning loss (contrastive_negatives draws
    random ones; these are the hard ones). The bounded anchor set
    (vec_id < 200) broadcasts against the corpus (scalar-broadcast
    pattern: fan-out = anchors × corpus, never corpus²); the per-
    anchor argmax folds map-side via max_by over a (rounded-cosine,
    -neg_id) struct, so one row per anchor reaches the exchange. At
    100 TB the anchor batch streams through the same shape, or the
    IVF/BRP bucket path replaces the scan for recall@k trade-offs."""
    from .functions.vectors import dot_fixed, embedding_dim, norm_sq_fixed

    # norms are per-VECTOR quantities: fold them once per row on each
    # side (10^4 + anchor folds) instead of per PAIR (3 array folds ->
    # 1; measured 10.3 -> 4.5 s warm at sf0.1). The cosine VALUE is
    # bit-identical, so the oracle and determinism hashes are unmoved.
    # r14: folds are fixed-width unrolled (codegen, not interpreted
    # HOFs) — same element-order values.
    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    emb = emb.withColumn("nsq", norm_sq_fixed("embedding", dim))
    a = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("embedding").alias("a_emb"),
        F.col("nsq").alias("a_nsq"),
    )
    pairs = emb.crossJoin(F.broadcast(a)).filter(
        F.col("label") != F.col("a_label")
    )
    cs = F.round(
        dot_fixed("embedding", "a_emb", dim) / F.sqrt(F.col("nsq") * F.col("a_nsq")), 6
    )
    scored = pairs.select(
        F.col("a_id"),
        F.col("a_label"),
        F.struct(
            cs.alias("cs"),
            (-F.col("vec_id")).alias("negk"),
            F.col("vec_id").alias("neg_vec_id"),
            F.col("label").alias("neg_label"),
        ).alias("s"),
    )
    best = scored.groupBy("a_id", "a_label").agg(F.max("s").alias("s"))
    return best.select(
        F.col("a_id").alias("vec_id"),
        F.col("a_label").alias("label"),
        F.col("s.neg_vec_id").cast("long").alias("neg_vec_id"),
        F.col("s.neg_label").alias("neg_label"),
        F.col("s.cs").alias("cos_sim"),
    ).orderBy("vec_id")


def _chars_before_curriculum(d):
    """Exact prefix sum of ``n_chars`` over the (logit desc, doc_id)
    total order WITHOUT a raw-row global window — the library's
    tie-split decomposition (:func:`operators.ranks.
    tie_split_prefix_sum`): histogram running total for the
    cross-value component, a logit-PARTITIONED running sum within
    ties. Identical to ``sum(n_chars) over (order by logit desc,
    doc_id rows unbounded preceding to 1 preceding)``; documents never
    serialize (equivalence pinned by tests/test_ranks.py)."""
    from .operators.ranks import tie_split_prefix_sum

    return tie_split_prefix_sum(
        d, "logit", "n_chars", "doc_id", desc=True, out_col="chars_before"
    ).select("doc_id", "logit", "n_chars", "chars_before")


@register(
    "curriculum_packing",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
d as (select s.doc_id, s.logit, dd.n_chars
      from scored s join documents dd using (doc_id)),
ordered as (
  select doc_id, logit, n_chars,
         coalesce(sum(n_chars) over (
           order by logit desc, doc_id
           rows between unbounded preceding and 1 preceding), 0) as chars_before
  from d
)
select cast(floor(chars_before / 4096.0) as bigint) as pack_id,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_chars) as bigint) as pack_chars,
       round(sum(logit) / count(*), 6) as mean_logit,
       cast(min(doc_id) as bigint) as first_doc
from ordered group by pack_id order by pack_id
""",
)
def q_curriculum_packing(spark, sf_dir):
    """Curriculum-ordered sequence packing: documents sorted by the
    LEARNED quality score (highest first, doc_id tiebreak) before the
    prefix-sum pack assignment — early training packs carry the
    highest-quality data (the anti-curriculum flips one sort key).
    Composes model_quality_scores with seq_packing's exact-integer
    prefix-sum bin assignment; mean pack quality is the one rounded
    float reduction. The curriculum total order is the contract; its
    prefix sum is computed tie-split (:func:`_chars_before_curriculum`)
    so no document row enters an unpartitioned window."""
    from .operators.curation import hashed_feature_logit

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_feature_logit(docs).select("doc_id", "logit")
    d = docs.select("doc_id", "n_chars").join(scored, "doc_id")
    ordered = _chars_before_curriculum(d)
    return (
        ordered.groupBy(
            F.floor(F.col("chars_before") / 4096.0).cast("long").alias("pack_id")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("pack_chars"),
            F.round(F.sum("logit") / F.count(F.lit(1)), 6).alias("mean_logit"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("pack_id")
    )


#: shared accent-fold map (written once, used literally in BOTH engines
#: so the normalization is portable by construction — broader Unicode
#: NFKC folding needs ICU, absent in both runtimes here).
_ACCENT_SRC = "áàâãäéèêëíìîïóòôõöúùûüçñ"
_ACCENT_DST = "aaaaaeeeeiiiiooooouuuucn"


@register(
    "normalized_dedup_docs",
    oracle=f"""
select md5(trim(regexp_replace(
         translate(lower(text), '{_ACCENT_SRC}', '{_ACCENT_DST}'),
         '\\s+', ' ', 'g'))) as norm_hash,
       cast(min(doc_id) as bigint) as keeper_doc_id,
       cast(count(*) as bigint) as n_copies
from documents
group by 1
""",
)
def q_normalized_dedup_docs(spark, sf_dir):
    """Canonicalization dedup: the fuzzy-normalized rung between exact
    dedup (byte-identical only) and shingle near-dup — case folded,
    accents folded through an EXPLICIT shared translate map (the same
    literal string in both engines; full NFKC needs ICU, absent here
    and documented), whitespace runs collapsed, edges trimmed, then
    the same md5 group-by as exact_dedup_docs. Catches 'Café  au
    lait ' vs 'cafe au lait' — re-typed/re-encoded copies that survive
    byte-level dedup (pytest-planted). Pure codegen expressions; the
    plan is exact dedup's plan."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.translate(F.lower(F.col("text")), _ACCENT_SRC, _ACCENT_DST),
            r"\s+",
            " ",
        )
    )
    return docs.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )


@register(
    "funnel_latency_percentiles",
    oracle="""
with s as (
  select user_id, epoch_us(ts) as t, event_type,
         row_number() over (order by user_id, ts, event_id) as _rn
  from events where event_type in ('click', 'purchase')
),
c as (
  select user_id, t as t_click,
         -- next purchase by the same user at or after the click
         (select min(p.t) from s p
          where p.user_id = s.user_id and p.event_type = 'purchase'
            and p.t >= s.t) as t_conv
  from s where event_type = 'click'
),
lat as (select cast(t_conv - t_click as bigint) as latency_us
        from c where t_conv is not null)
select cast(count(*) as bigint) as n_converted_clicks,
       (select cast(count(*) as bigint) from c) as n_clicks,
       cast(quantile_cont(latency_us, 0.5) as double) as p50_us,
       cast(quantile_cont(latency_us, 0.9) as double) as p90_us,
       cast(max(latency_us) as bigint) as max_us
from lat
""",
)
def q_funnel_latency_percentiles(spark, sf_dir):
    """Time-to-convert latency: for every click, the delay until the
    SAME user's next purchase (click→conversion funnel latency),
    summarized as exact interpolated percentiles — the product metric
    behind 'median time to purchase'. The next-purchase lookup is NOT
    a correlated subquery at scale: one user-keyed window pass carries
    the next purchase time backwards over the merged click/purchase
    stream (min of future purchases == first_value over the reversed
    order with purchases-only values, IGNORE NULLS). Latencies are
    exact integer µs; percentile == quantile_cont bit-identically
    (proven by value_percentiles)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_id",
    )
    # RANGE frame on t (not rows on (t, event_id)): a purchase at the
    # SAME microsecond as the click must count regardless of event_id
    # order — the frame then matches the oracle's p.t >= s.t exactly
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    purchase_t = F.when(F.col("event_type") == "purchase", F.col("t"))
    carried = s.select(
        "user_id",
        "event_type",
        "t",
        F.min(purchase_t).over(fwd).alias("t_conv"),
    )
    clicks = carried.filter(F.col("event_type") == "click").select(
        F.col("t").alias("t_click"), "t_conv"
    )
    lat = clicks.filter(F.col("t_conv").isNotNull()).select(
        (F.col("t_conv") - F.col("t_click")).cast("bigint").alias("latency_us")
    )
    n_clicks = clicks.agg(F.count(F.lit(1)).cast("long").alias("n_clicks"))
    return (
        lat.agg(
            F.count(F.lit(1)).cast("long").alias("n_converted_clicks"),
            F.expr("percentile(latency_us, 0.5)").alias("p50_us"),
            F.expr("percentile(latency_us, 0.9)").alias("p90_us"),
            F.max("latency_us").cast("bigint").alias("max_us"),
        )
        .crossJoin(F.broadcast(n_clicks))
        .select(
            "n_converted_clicks", "n_clicks", "p50_us", "p90_us", "max_us"
        )
    )


@register(
    "weighted_median_doc_size",
    oracle="""
with o as (
  select lang, n_chars, doc_id,
         sum(n_chars) over (partition by lang
                            order by n_chars, doc_id) as cw,
         sum(n_chars) over (partition by lang) as w
  from documents
)
select lang,
       cast(count(*) as bigint) as n_docs,
       cast(max(w) as bigint) as total_chars,
       cast(min(case when 2 * cw >= w then n_chars end) as bigint)
         as weighted_median_chars,
       cast(quantile_cont(n_chars, 0.5) as double) as plain_median_chars
from o group by lang order by lang
""",
)
def q_weighted_median_doc_size(spark, sf_dir):
    """WEIGHTED median document size per language: the doc length X
    such that half the corpus CHARACTERS live in docs of length ≤ X —
    the storage/compute-planning stat a byte-weighted corpus needs
    (the plain median answers 'typical doc'; the weighted one answers
    'where the volume is', and long-tailed corpora separate them
    hard). Exact integer algorithm: one ordered cumulative-weight
    window per lang with a total (n_chars, doc_id) tiebreak, threshold
    2·cumw ≥ W in integers (no W/2 fraction), first crossing via
    MIN(case) — no percentile approximation anywhere. One lang-keyed
    shuffle reused by both windows and the rollup."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cw = F.sum("n_chars").over(
        Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    )
    w = F.sum("n_chars").over(Window.partitionBy("lang"))
    o = docs.select(
        "lang", "n_chars", cw.alias("cw"), w.alias("w")
    )
    return (
        o.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("w").cast("long").alias("total_chars"),
            F.min(F.when(2 * F.col("cw") >= F.col("w"), F.col("n_chars")))
            .cast("long")
            .alias("weighted_median_chars"),
            F.expr("percentile(n_chars, 0.5)").alias("plain_median_chars"),
        )
        .orderBy("lang")
    )


@register(
    "ab_test_conversion_ztest",
    oracle="""
with assign as (
  select user_id, user_id % 2 as variant,
         max(case when event_type = 'purchase' then 1 else 0 end) as converted
  from events group by user_id
),
v as (
  select variant,
         cast(count(*) as bigint) as n_users,
         cast(sum(converted) as bigint) as n_converted
  from assign group by variant
),
w as (
  select max(case when variant = 0 then n_users end) as n0,
         max(case when variant = 0 then n_converted end) as c0,
         max(case when variant = 1 then n_users end) as n1,
         max(case when variant = 1 then n_converted end) as c1
  from v
)
select n0, c0, n1, c1,
       cast(c0 as double) / cast(n0 as double) as rate0,
       cast(c1 as double) / cast(n1 as double) as rate1,
       round((cast(c1 as double) / cast(n1 as double)
              - cast(c0 as double) / cast(n0 as double))
             / sqrt((cast(c0 + c1 as double) / cast(n0 + n1 as double))
                    * (1.0 - cast(c0 + c1 as double) / cast(n0 + n1 as double))
                    * (1.0 / cast(n0 as double) + 1.0 / cast(n1 as double))),
             6) as z_stat
from w
""",
)
def q_ab_test_conversion_ztest(spark, sf_dir):
    """Two-proportion z-test for an A/B experiment: users are
    deterministically bucketed (user_id % 2 — the hash-assignment
    stand-in), per-user conversion is 'ever purchased', and the pooled
    z-statistic compares variant conversion rates — the experimentation
    readout chi2_lang_source's contingency test doesn't give (a SIGNED
    effect direction). All counts exact (one user-keyed aggregate +
    a 2-row rollup pivoted via conditional max); the z expression is
    a single double formula over exact ints written identically in
    both engines, rounded 6 dp. Significance = |z| > 1.96 downstream.
    At 100 TB: one map-side-combined aggregate, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("variant"), "converted")
    v = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pooled = (d("c0") + d("c1")) / (d("n0") + d("n1"))
    z = (d("c1") / d("n1") - d("c0") / d("n0")) / F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / d("n0") + 1.0 / d("n1"))
    )
    return w.select(
        "n0", "c0", "n1", "c1",
        (d("c0") / d("n0")).alias("rate0"),
        (d("c1") / d("n1")).alias("rate1"),
        F.round(z, 6).alias("z_stat"),
    )


@register(
    "dup_rate_report",
    oracle="""
with g as (select md5(text) as h, cast(count(*) as bigint) as sz
           from documents group by md5(text)),
hist as (select sz, cast(count(*) as bigint) as n_clusters
         from g group by sz)
select sz as cluster_size, n_clusters,
       cast(sz * n_clusters as bigint) as n_docs_in_size,
       cast(sz * n_clusters as double)
         / (select cast(sum(sz) as double) from g) as doc_share,
       (select cast(sum(sz) - count(*) as bigint) from g) as n_dropped_corpus,
       (select 1.0 - cast(count(*) as double) / cast(sum(sz) as double)
        from g) as dup_rate_corpus
from hist
order by cluster_size
""",
)
def q_dup_rate_report(spark, sf_dir):
    """Dedup health report: the duplicate-cluster SIZE HISTOGRAM plus
    corpus dup-rate — the summary every dedup run should publish
    (a corpus where the histogram has a heavy tail needs the near-dup
    passes; one big cluster usually means a template/boilerplate leak,
    not organic duplication). Two tiny aggregates over the md5-group
    table (cluster sizes, then size counts) with corpus scalars
    broadcast onto each histogram row; everything is exact integers
    but the two displayed shares."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    hist = g.groupBy("sz").agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    tot = g.agg(
        F.sum("sz").cast("long").alias("n_docs_total"),
        F.count(F.lit(1)).cast("long").alias("n_clusters_total"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs_in_size"),
            (
                (F.col("sz") * F.col("n_clusters")).cast("double")
                / F.col("n_docs_total").cast("double")
            ).alias("doc_share"),
            (F.col("n_docs_total") - F.col("n_clusters_total"))
            .cast("long")
            .alias("n_dropped_corpus"),
            (
                1.0
                - F.col("n_clusters_total").cast("double")
                / F.col("n_docs_total").cast("double")
            ).alias("dup_rate_corpus"),
        )
        .orderBy("cluster_size")
    )


@register(
    "split_leakage_audit",
    oracle=f"""
with recursive {_SQL_COMPONENT_CTES},
pairs as (select a, b from e0),
naive as (
  select doc_id,
         case when substr(md5(cast(doc_id as varchar)), 1, 1)
                   between '0' and 'b' then 'train'
              when substr(md5(cast(doc_id as varchar)), 1, 1)
                   between 'c' and 'd' then 'val'
              else 'test' end as split
  from documents
),
safe as (
  select doc_id,
         case when substr(md5(cast(component as varchar)), 1, 1)
                   between '0' and 'b' then 'train'
              when substr(md5(cast(component as varchar)), 1, 1)
                   between 'c' and 'd' then 'val'
              else 'test' end as split
  from call
)
select (select cast(count(*) as bigint) from pairs) as n_near_dup_pairs,
       (select cast(count(*) as bigint) from pairs p
        join naive x on p.a = x.doc_id
        join naive y on p.b = y.doc_id
        where x.split <> y.split) as naive_cross_pairs,
       (select cast(count(*) as bigint) from pairs p
        join safe x on p.a = x.doc_id
        join safe y on p.b = y.doc_id
        where x.split <> y.split) as safe_cross_pairs
""",
)
def q_split_leakage_audit(spark, sf_dir):
    """Split-leakage AUDIT: over the exact∪near-dup edge set, count
    pairs whose endpoints land in different train/val/test splits
    under (a) naive per-doc hashing and (b) the cluster-granular safe
    split — the verifiable guarantee behind leakage_safe_split:
    safe_cross_pairs is structurally ZERO (both endpoints share a
    component, components share a split), while the naive count is
    whatever the dup rate leaks. Reuses the shared components loop;
    the audit itself is two key-joins of the small edge list against
    the assignment tables."""
    _docs, comp_all = _doc_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        _dup_edges(docs)
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )

    def bucket(key_col):
        nib = F.substring(F.md5(key_col.cast("string").cast("binary")), 1, 1)
        return (
            F.when(nib.between("0", "b"), "train")
            .when(nib.between("c", "d"), "val")
            .otherwise("test")
        )

    naive = docs.select("doc_id", bucket(F.col("doc_id")).alias("split"))
    safe = comp_all.select("doc_id", bucket(F.col("component")).alias("split"))

    def cross_count(assign, name):
        return (
            pairs.join(assign.withColumnRenamed("doc_id", "a").withColumnRenamed("split", "sa"), "a")
            .join(assign.withColumnRenamed("doc_id", "b").withColumnRenamed("split", "sb"), "b")
            .filter(F.col("sa") != F.col("sb"))
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"))
    return (
        n_pairs.crossJoin(cross_count(naive, "naive_cross_pairs"))
        .crossJoin(cross_count(safe, "safe_cross_pairs"))
    )


@register(
    "eval_decontaminate_docs",
    oracle=f"""
with t as (
  select doc_id, {SQL_TOKS} as toks,
         substr(md5(cast(doc_id as varchar)), 1, 1) = 'f' as is_eval
  from documents
),
g as (
  select doc_id, is_eval, toks,
         unnest(generate_series(1, len(toks) - 4)) as s
  from t
),
sh as (
  select distinct doc_id, is_eval,
         array_to_string(toks[s:s+4], ' ') as gram
  from g
),
ev as (select distinct gram from sh where is_eval),
hits as (
  select s.doc_id,
         cast(count(*) as bigint) as n_grams,
         cast(count(e.gram) as bigint) as n_contaminated
  from sh s left join ev e using (gram)
  where not s.is_eval
  group by s.doc_id
)
select doc_id, n_grams, n_contaminated,
       round(cast(n_contaminated as double) / cast(n_grams as double), 6)
         as contamination_ratio
from hits
where n_contaminated > 0
order by doc_id
""",
)
def q_eval_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination (VERDICT r12 #2): treat the ~1/16
    md5-nibble slice of ``documents`` as a held-out eval set and flag
    every remaining corpus doc sharing any 5-token n-gram with it —
    the pre-training hygiene scrub that keeps benchmark answers out of
    training data. The eval side rides a BROADCAST hash join (hash
    built once per task) against the corpus's row-local gram explode;
    the only shuffle is the groupBy(doc_id) over grams that actually
    HIT the eval set — ≈zero rows for a clean corpus
    (operators/curation.py:eval_decontaminate, which also documents
    why the per-row array_intersect form loses: O(rows·|eval|) set
    rebuilds, measured 42 s vs ~1 s at sf0.1). Differs from the older
    benchmark_contamination lane by the ratio output, the held-out
    md5-slice split, and a first-class operator API taking any
    (corpus, eval) pair. The oracle replays the identical token model
    (SQL_TOKS) and distinct-gram counting; the only double is the
    final ratio division, rounded 6dp on both engines."""
    from .operators.curation import eval_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    is_eval = (
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
        == "f"
    )
    return eval_decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval)
    ).orderBy("doc_id")


@register(
    "token_budget_subset",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
d as (select s.doc_id, s.logit, dd.n_chars
      from scored s join documents dd using (doc_id)),
o as (
  select doc_id, logit, n_chars,
         coalesce(sum(n_chars) over (
           order by logit desc, doc_id
           rows between unbounded preceding and 1 preceding), 0) as before
  from d
),
kept as (select * from o where before < 100000)
select cast(count(*) as bigint) as n_docs_kept,
       cast(sum(n_chars) as bigint) as chars_kept,
       round(min(logit), 6) as quality_cutoff,
       (select cast(count(*) as bigint) from documents) as n_docs_total
from kept
""",
)
def q_token_budget_subset(spark, sf_dir):
    """Budget-constrained corpus subsetting: keep the BEST documents
    by learned quality until a fixed char budget (100k standing in for
    a token budget) is filled — 'train on the best N tokens', the
    selection rule a compute-bound run applies after scoring. Greedy
    by exact prefix sum over the (quality desc, doc_id) total order
    (the doc that crosses the boundary is kept — deterministic, same
    rule both engines); the reported quality_cutoff is the marginal
    document's score. The prefix sum is tie-split
    (:func:`_chars_before_curriculum`) so no document row enters an
    unpartitioned window."""
    from .operators.curation import hashed_feature_logit

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_feature_logit(docs).select("doc_id", "logit")
    d = docs.select("doc_id", "n_chars").join(scored, "doc_id")
    kept = _chars_before_curriculum(d).filter(F.col("chars_before") < 100_000)
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs_total"))
    return (
        kept.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.round(F.min("logit"), 6).alias("quality_cutoff"),
        )
        .crossJoin(F.broadcast(tot))
    )


@register(
    "lang_id_confusion",
    oracle=f"""
with preds as ({_lang_id_oracle()})
select lang_label, lang_guess,
       cast(count(*) as bigint) as n,
       cast(count(*) as double)
         / cast(sum(count(*)) over (partition by lang_label) as double)
         as row_share,
       (select cast(sum(case when lang_label = lang_guess then 1 else 0 end)
                    as double) / cast(count(*) as double)
        from preds) as overall_accuracy
from preds
group by lang_label, lang_guess
order by lang_label, lang_guess
""",
)
def q_lang_id_confusion(spark, sf_dir):
    """Confusion matrix of the marker-token language-ID heuristic
    against the labeled ``lang`` column — evaluating our own
    classifier the way the AUC/reliability queries evaluate the
    quality gate. Per-(label, guess) counts with row-normalized
    shares and the corpus accuracy broadcast onto every cell; one
    |langs|²-bounded aggregate over the lang_id pass."""
    from .operators.textops import lang_id
    from pyspark.sql import Window

    preds = lang_id(load_table(spark, sf_dir, "documents"))
    cells = preds.groupBy(
        F.col("lang_label"), F.col("lang_guess")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    acc = preds.agg(
        (
            F.sum(
                F.when(F.col("lang_label") == F.col("lang_guess"), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("overall_accuracy")
    )
    share = (
        F.col("n").cast("double")
        / F.sum("n").over(Window.partitionBy("lang_label")).cast("double")
    )
    return (
        cells.select("lang_label", "lang_guess", "n", share.alias("row_share"))
        .crossJoin(F.broadcast(acc))
        .orderBy("lang_label", "lang_guess")
    )


@register(
    "corpus_card",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
{_HEUR_LABEL_CTES},
g as (select md5(text) as h, count(*) as sz from documents group by md5(text))
select * from (
  select 'n_docs' as metric, cast(count(*) as double) as value from documents
  union all
  select 'n_langs', cast(count(distinct lang) as double) from documents
  union all
  select 'n_sources', cast(count(distinct source) as double) from documents
  union all
  select 'total_chars', cast(sum(n_chars) as double) from documents
  union all
  select 'total_tokens', cast(sum(len(toks)) as double) from t
  union all
  select 'exact_dup_rate',
         round(1.0 - cast(count(*) as double) / cast(sum(sz) as double), 9)
  from g
  union all
  select 'heuristic_pass_rate',
         round(cast(sum(case when label then 1 else 0 end) as double)
               / cast(count(*) as double), 9)
  from heur
) order by metric
""",
)
def q_corpus_card(spark, sf_dir):
    """The corpus DATASHEET ('dataset card' numbers): size, diversity,
    duplication and quality-gate pass rate in one long-format summary —
    the handful of scalars every corpus release publishes. Each metric
    is its own tiny aggregate (exact integers; the two rates are one
    rounded division each) unioned into (metric, value) rows; at
    100 TB this is a few map-side-combined scans of pruned columns."""
    from .operators.curation import quality_gate
    from .functions.text import tokens as _toks

    docs = load_table(spark, sf_dir, "documents")

    def scalar(name, df_agg):
        return df_agg.select(F.lit(name).alias("metric"), F.col("v").alias("value"))

    rows = [
        scalar("n_docs", docs.agg(F.count(F.lit(1)).cast("double").alias("v"))),
        scalar("n_langs", docs.agg(F.count_distinct("lang").cast("double").alias("v"))),
        scalar(
            "n_sources", docs.agg(F.count_distinct("source").cast("double").alias("v"))
        ),
        scalar("total_chars", docs.agg(F.sum("n_chars").cast("double").alias("v"))),
        scalar(
            "total_tokens",
            docs.agg(F.sum(F.size(_toks("text"))).cast("double").alias("v")),
        ),
        scalar(
            "exact_dup_rate",
            docs.groupBy(F.md5("text").alias("h"))
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(
                F.round(
                    1.0 - F.count(F.lit(1)).cast("double") / F.sum("sz").cast("double"),
                    9,
                ).alias("v")
            ),
        ),
        scalar(
            "heuristic_pass_rate",
            quality_gate(docs).agg(
                F.round(
                    F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    9,
                ).alias("v")
            ),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("metric")


@register(
    "rolling_type_correlation",
    oracle="""
with h as (
  select date_trunc('hour', ts) as hour_start,
         cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as x,
         cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as y
  from events group by 1
),
r as (
  select hour_start, x, y,
         cast(count(*) over w as bigint) as n,
         cast(sum(x) over w as bigint) as sx,
         cast(sum(y) over w as bigint) as sy,
         cast(sum(x * x) over w as bigint) as sxx,
         cast(sum(y * y) over w as bigint) as syy,
         cast(sum(x * y) over w as bigint) as sxy
  from h
  window w as (order by hour_start rows between 23 preceding and current row)
)
select hour_start, x, y, n,
       case when (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
            then round(cast(n * sxy - sx * sy as double)
                 / sqrt(cast(n * sxx - sx * sx as double)
                        * cast(n * syy - sy * sy as double)), 6)
       end as corr_24h
from r
order by hour_start
""",
)
def q_rolling_type_correlation(spark, sf_dir):
    """Trailing-24-hour Pearson correlation between click and purchase
    hourly volumes — the co-movement monitor (does demand still follow
    engagement?). The rolling correlation is five EXACT integer
    rolling sums (counts and their products stay int64) over one
    24-row frame, collapsed into a single rounded double expression —
    no float accumulates across rows, so the window is as portable as
    the exact-decimal EWMA. Degenerate windows (either series
    constant) yield NULL rather than a 0/0. One hourly pre-aggregate,
    then windows over the tiny types×hours table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("hour_start").rowsBetween(-23, Window.currentRow)
    r = h.select(
        "hour_start",
        "x",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when(
        vx * vy > 0,
        F.round(cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 6),
    )
    return r.select("hour_start", "x", "y", "n", corr.alias("corr_24h")).orderBy(
        "hour_start"
    )


@register(
    "user_interarrival_stats",
    oracle="""
with s as (
  select user_id, epoch_us(ts) as t,
         lag(epoch_us(ts)) over (partition by user_id
                                 order by ts, event_id) as prev_t
  from events
),
g as (select user_id, cast(t - prev_t as bigint) as gap
      from s where prev_t is not null),
a as (
  select user_id,
         cast(count(*) as bigint) as n_gaps,
         cast(sum(gap) as bigint) as sg,
         sum(cast(gap as decimal(28,0)) * cast(gap as decimal(28,0))) as sgg
  from g group by user_id
)
select user_id, n_gaps,
       -- UNROUNDED: sg/n is a ratio of exact ints < 2^53, and IEEE
       -- division is correctly rounded in both engines — rounding it
       -- CREATED a half-ulp boundary failure at sf0.1 (a user whose
       -- mean gap was exactly ...0425 µs)
       cast(sg as double) / cast(n_gaps as double) / 1e6 as mean_gap_s,
       round(sqrt(greatest(cast(sgg as double) / cast(n_gaps as double)
             - (cast(sg as double) / cast(n_gaps as double))
               * (cast(sg as double) / cast(n_gaps as double)), 0)) / 1e6, 6)
         as std_gap_s,
       case when sg > 0 then
         round(sqrt(greatest(cast(sgg as double) / cast(n_gaps as double)
               - (cast(sg as double) / cast(n_gaps as double))
                 * (cast(sg as double) / cast(n_gaps as double)), 0))
               / (cast(sg as double) / cast(n_gaps as double)), 6)
       end as burstiness_cv
from a
order by user_id
""",
)
def q_user_interarrival_stats(spark, sf_dir):
    """Inter-arrival burstiness per user: mean/std/CV of the gaps
    between consecutive events — CV ≈ 1 is Poisson-like, CV ≫ 1 is
    bursty (bot/batch suspects), CV ≪ 1 is metronomic (schedulers) —
    the behavioral fingerprint sessionization thresholds should be
    tuned against. Gaps are exact integer µs from one lag() pass;
    the second moment accumulates in decimal(28,0)² (a 30-day µs gap
    squared is ~10^25 — int64 would overflow, decimal(38) cannot);
    the mean is the exact unrounded int-ratio division (rounding a
    rational value can land exactly on the grid and split engines —
    found at sf0.1); std/CV round 6 dp (sqrt outputs don't sit on the
    decimal grid)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select("user_id", t.alias("t"), F.lag(t).over(w).alias("prev_t"))
    g = s.filter(F.col("prev_t").isNotNull()).select(
        "user_id", (F.col("t") - F.col("prev_t")).cast("long").alias("gap")
    )
    dec = F.col("gap").cast("decimal(28,0)")
    a = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").cast("long").alias("sg"),
        F.sum(dec * dec).alias("sgg"),
    )
    mean = F.col("sg").cast("double") / F.col("n_gaps").cast("double")
    var = F.greatest(
        F.col("sgg").cast("double") / F.col("n_gaps").cast("double") - mean * mean,
        F.lit(0.0),
    )
    return a.select(
        "user_id",
        "n_gaps",
        (mean / 1e6).alias("mean_gap_s"),
        F.round(F.sqrt(var) / 1e6, 6).alias("std_gap_s"),
        F.when(F.col("sg") > 0, F.round(F.sqrt(var) / mean, 6)).alias(
            "burstiness_cv"
        ),
    ).orderBy("user_id")


@register(
    "pareto_user_revenue",
    oracle="""
with u as (
  select user_id, sum(cast(value as decimal(18,2))) as rev
  from events where event_type = 'purchase' group by user_id
),
r as (
  select user_id, rev,
         cast(row_number() over (order by rev desc, user_id) as bigint) as rnk,
         sum(rev) over (order by rev desc, user_id
                        rows between unbounded preceding and current row)
           as cum_rev,
         sum(rev) over () as total_rev,
         cast(count(*) over () as bigint) as n_users
  from u
)
select rnk, user_id, cast(rev as double) as revenue,
       cast(cum_rev as double) / cast(total_rev as double) as cum_share,
       cast(cum_rev as double) / cast(total_rev as double) >= 0.8
         and cast(cum_rev - rev as double) / cast(total_rev as double) < 0.8
         as is_p80_boundary,
       cast(rnk as double) / cast(n_users as double) as user_share
from r
order by rnk
""",
)
def q_pareto_user_revenue(spark, sf_dir):
    """Pareto (80/20) revenue-concentration analysis: users ranked by
    purchase revenue with EXACT decimal cumulative shares, flagging
    the user whose cumulative share first crosses 80% — 'how few users
    carry 80% of revenue' is the concentration readout behind
    heavy_hitter_customers' raw list. The running sum stays
    decimal(18,2) (order-safe exact), each share is one rounded
    division, the boundary flag is the exact crossing predicate
    (cum ≥ 0.8 ∧ cum − own < 0.8). One keyed aggregate + one global-
    order window over the users table (range-bucket at 100 TB)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("rev")
    )
    order = Window.orderBy(F.col("rev").desc(), F.col("user_id"))
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy()
    r = u.select(
        "user_id",
        "rev",
        F.row_number().over(order).cast("long").alias("rnk"),
        F.sum("rev").over(run).alias("cum_rev"),
        F.sum("rev").over(full).alias("total_rev"),
        F.count(F.lit(1)).over(full).cast("long").alias("n_users"),
    )
    share = F.col("cum_rev").cast("double") / F.col("total_rev").cast("double")
    prev_share = (F.col("cum_rev") - F.col("rev")).cast("double") / F.col(
        "total_rev"
    ).cast("double")
    return r.select(
        "rnk",
        "user_id",
        F.col("rev").cast("double").alias("revenue"),
        share.alias("cum_share"),
        ((share >= 0.8) & (prev_share < 0.8)).alias("is_p80_boundary"),
        (F.col("rnk").cast("double") / F.col("n_users").cast("double")).alias(
            "user_share"
        ),
    ).orderBy("rnk")


@register(
    "top_event_paths",
    oracle="""
with s as (
  select user_id, event_type,
         lead(event_type, 1) over w as t2,
         lead(event_type, 2) over w as t3
  from events
  window w as (partition by user_id order by ts, event_id)
),
p as (
  select event_type || '>' || t2 || '>' || t3 as path
  from s where t3 is not null
)
select path, cast(count(*) as bigint) as n
from p group by path
order by n desc, path
limit 10
""",
)
def q_top_event_paths(spark, sf_dir):
    """Top 3-step behavioral paths (the sequence-mining depth above
    event_transition_matrix's 2-step transitions): two lead() columns
    from ONE user-keyed window pass — not two passes — then a
    |types|³-bounded hash aggregate and TakeOrderedAndProject top-10
    with a total (count, path) tiebreak. The standard 'common user
    journeys' product query; longer k just adds lead() columns to the
    same single window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        s.select(
            F.concat_ws(">", F.col("t1"), F.col("t2"), F.col("t3")).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(10)
    )


@register(
    "rfm_segments",
    oracle="""
with u as (
  select user_id,
         max(epoch_us(ts)) as last_t,
         cast(count(*) as bigint) as freq,
         sum(cast(value as decimal(18,2))) as monetary
  from events where event_type = 'purchase' group by user_id
),
q as (
  select user_id, freq,
         cast(monetary as double) as monetary,
         cast(ntile(5) over (order by last_t desc, user_id) as bigint) as r_q,
         cast(ntile(5) over (order by freq desc, user_id) as bigint) as f_q,
         cast(ntile(5) over (order by monetary desc, user_id) as bigint) as m_q
  from u
)
select user_id, freq, monetary, r_q, f_q, m_q,
       case when r_q <= 2 and f_q <= 2 and m_q <= 2 then 'champion'
            when r_q >= 4 and f_q <= 2 then 'at_risk_loyal'
            when r_q >= 4 then 'lapsed'
            else 'regular' end as segment
from q
order by user_id
""",
)
def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: recency / frequency / monetary
    quintiles (ntile over total orders — desc with user_id tiebreak,
    so quintile 1 is always the BEST on each axis) folded into the
    classic segment labels (champion / at-risk-loyal / lapsed). One
    user-keyed aggregate, then three quintile axes via
    operators/ranks.py:exact_ntile (desc, user_id tiebreak) — each axis
    is a value-histogram pass plus a value-partitioned row_number, so
    the user table never serializes into a global window at any scale;
    monetary stays exact decimal until the displayed cast."""
    from .operators.ranks import exact_ntile

    ev = load_table(spark, sf_dir, "events")
    u = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_t"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("monetary"),
    )
    q = u
    for col, out in (("last_t", "r_q"), ("freq", "f_q"), ("monetary", "m_q")):
        q = exact_ntile(q, 5, col, "user_id", out_col=out, desc=True)
    q = q.select(
        "user_id",
        "freq",
        F.col("monetary").cast("double").alias("monetary"),
        F.col("r_q").cast("long").alias("r_q"),
        F.col("f_q").cast("long").alias("f_q"),
        F.col("m_q").cast("long").alias("m_q"),
    )
    segment = (
        F.when((F.col("r_q") <= 2) & (F.col("f_q") <= 2) & (F.col("m_q") <= 2), "champion")
        .when((F.col("r_q") >= 4) & (F.col("f_q") <= 2), "at_risk_loyal")
        .when(F.col("r_q") >= 4, "lapsed")
        .otherwise("regular")
    )
    return q.select(
        "user_id", "freq", "monetary", "r_q", "f_q", "m_q", segment.alias("segment")
    ).orderBy("user_id")


@register(
    "churn_labels",
    oracle="""
with f as (
  select user_id,
         cast(count(*) as bigint) as n_events_obs,
         cast(count(distinct date_trunc('day', ts)) as bigint) as active_days_obs,
         cast(sum(case when event_type = 'purchase'
                  then cast(value as decimal(18,2))
                  else cast(0 as decimal(18,2)) end) as double) as revenue_obs
  from events where ts < timestamp '2024-01-24' group by user_id
),
l as (
  select distinct user_id from events
  where ts >= timestamp '2024-01-24'
)
select f.user_id, f.n_events_obs, f.active_days_obs, f.revenue_obs,
       l.user_id is null as churned
from f left join l on f.user_id = l.user_id
order by f.user_id
""",
)
def q_churn_labels(spark, sf_dir):
    """Churn-dataset construction: features from the OBSERVATION
    window (before Jan 24) and the label from the disjoint OUTCOME
    window (no activity on/after Jan 24 → churned) — the
    time-split label engineering that prevents feature/label leakage
    (the tabular sibling of scd2_point_in_time's as-of joins). Both
    windows scan with the time filter pushed down; the label is one
    left anti-ish join on the user key. Revenue features accumulate in
    exact decimal; users born in the outcome window are correctly
    absent (no observation features exist for them)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-24").cast("timestamp_ntz")
    obs = ev.filter(F.col("ts") < cut)
    f = obs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events_obs"),
        F.count_distinct(F.date_trunc("day", "ts")).cast("long").alias(
            "active_days_obs"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue_obs"),
    )
    alive = (
        ev.filter(F.col("ts") >= cut).select("user_id").distinct()
        .withColumn("alive", F.lit(True))
    )
    return (
        f.join(alive, "user_id", "left")
        .select(
            "user_id",
            "n_events_obs",
            "active_days_obs",
            "revenue_obs",
            F.col("alive").isNull().alias("churned"),
        )
        .orderBy("user_id")
    )


@register(
    "implicit_feedback_negatives",
    oracle="""
with np as (select cast(count(*) as bigint) as n_parts,
                   cast(min(p_partkey) as bigint) as min_pk
            from part),
cust as (select distinct o_custkey from orders where o_custkey < 100),
cand as (
  select c.o_custkey, g.j as cand_rank,
         np.min_pk + cast(concat('0x',
             substr(md5(concat(cast(c.o_custkey as varchar), ':item:',
                               cast(g.j as varchar))), 1, 7)) as bigint)
           % np.n_parts as cand_partkey
  from cust c
  cross join np
  cross join (select unnest(generate_series(1, 3)) as j) g
),
seen as (
  select distinct o.o_custkey, l.l_partkey
  from orders o join lineitem l on o.o_orderkey = l.l_orderkey
  where o.o_custkey < 100
)
select c.o_custkey as custkey, cast(c.cand_rank as int) as cand_rank,
       cast(c.cand_partkey as bigint) as neg_partkey
from cand c
where not exists (select 1 from seen s
                  where s.o_custkey = c.o_custkey
                    and s.l_partkey = c.cand_partkey)
order by custkey, cand_rank
""",
)
def q_implicit_feedback_negatives(spark, sf_dir):
    """Implicit-feedback negative sampling for recommender training:
    per customer, 3 deterministic pseudo-random candidate parts (the
    portable md5 trick contrastive_negatives uses), ANTI-JOINED
    against the customer's actual purchase history so every emitted
    (customer, part) is a verified non-interaction — the standard
    BPR/implicit-ALS negative generator, with the verification step a
    real pipeline needs (naive random sampling emits false negatives
    at the head of the popularity distribution). The interaction set
    is built once (orders⋈lineitem key slices); candidates broadcast
    against it. Deterministic and re-seedable via the salt."""
    np_ = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.min("p_partkey").cast("long").alias("min_pk"),
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    cust = orders.select("o_custkey").distinct()
    ranks = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("cand_rank")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("o_custkey").cast("string"),
                    F.lit(":item:"),
                    F.col("cand_rank").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    cand = (
        cust.crossJoin(F.broadcast(np_))
        .select("o_custkey", "n_parts", "min_pk", ranks)
        .select(
            "o_custkey",
            F.col("cand_rank").cast("int").alias("cand_rank"),
            (F.col("min_pk") + h % F.col("n_parts")).alias("cand_partkey"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    seen = (
        orders.select("o_orderkey", "o_custkey")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    # rename the seen side before joining: cand and seen share the
    # orders lineage, and a raw o_custkey == o_custkey predicate
    # resolves trivially true (Spark warns; the anti join would then
    # filter on part alone)
    seen_r = seen.select(
        F.col("o_custkey").alias("s_custkey"),
        F.col("l_partkey").alias("s_partkey"),
    )
    return (
        cand.join(
            seen_r,
            (F.col("o_custkey") == F.col("s_custkey"))
            & (F.col("cand_partkey") == F.col("s_partkey")),
            "left_anti",
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            "cand_rank",
            F.col("cand_partkey").cast("long").alias("neg_partkey"),
        )
        .orderBy("custkey", "cand_rank")
    )


# ---------------------------------------------------------------------------
# Round 9 additions: hybrid retrieval fusion, rolling distinct users,
# frame-level CDC diff (SURVEY.md §2.9)
# ---------------------------------------------------------------------------

@register(
    "hybrid_rrf_topk",
    oracle=f"""
with toks as (select doc_id, {SQL_TOKS} as tk from documents),
dl as (select doc_id, cast(len(tk) as bigint) as dl from toks),
stats as (select cast(count(*) as bigint) as n_docs,
                 cast(sum(dl) as double) / count(*) as avgdl from dl),
wc as (select doc_id, w, cast(count(*) as bigint) as tf
       from (select doc_id, unnest(tk) as w from toks)
       where w in ('spark', 'hash', 'join') group by doc_id, w),
dfreq as (select w, cast(count(*) as bigint) as df from wc group by w),
bm as (select wc.doc_id,
              round(sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                        * (wc.tf * 2.2)
                        / (wc.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))), 6) as bm25
       from wc join dfreq f using (w) join dl d using (doc_id) cross join stats s
       group by wc.doc_id),
lex as (select doc_id, row_number() over (order by bm25 desc, doc_id) as rank
        from (select * from bm order by bm25 desc, doc_id limit 100)),
qv as (select embedding as qe from embeddings where vec_id = 0),
cs as (select e.vec_id as doc_id,
              round(list_dot_product(list_transform(e.embedding, x -> cast(x as double)),
                                     list_transform(q.qe, x -> cast(x as double)))
                    / sqrt(list_sum(list_transform(e.embedding,
                                    x -> cast(x as double) * cast(x as double)))
                         * list_sum(list_transform(q.qe,
                                    x -> cast(x as double) * cast(x as double)))), 6) as cos_sim
       from embeddings e, qv q where e.vec_id <> 0),
sem as (select doc_id, row_number() over (order by cos_sim desc, doc_id) as rank
        from (select * from cs order by cos_sim desc, doc_id limit 100)),
j as (select coalesce(l.doc_id, s.doc_id) as doc_id,
             coalesce(1.0 / (60 + l.rank), 0.0) + coalesce(1.0 / (60 + s.rank), 0.0) as sc
      from lex l full outer join sem s on l.doc_id = s.doc_id)
select doc_id, round(sc, 6) as rrf_score
from j order by rrf_score desc, doc_id limit 15
""",
)
def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    ranking for 'spark hash join' (operators/textops.py:bm25_topk)
    with the semantic embedding-cosine ranking for vec_id=0
    (operators/similarity.py:knn_cosine, doc_id ≡ vec_id) via
    operators/similarity.py:rrf_fuse — score(d) = Σ 1/(60+rank) over
    the two top-100 lists. The RAG-retrieval combiner at corpus
    scale: each list is a distributed top-r cut (TakeOrderedAndProject)
    before any global numbering, so the only one-task frames are
    ≤ r rows; the fusion join carries ≤ 2r rows. The oracle replays
    both rankings and the fused sum term-for-term (same double
    quotient + addition order)."""
    from .operators.similarity import rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    from .operators.textops import bm25_topk

    lexical = bm25_topk(docs, ["spark", "hash", "join"], k=100)
    semantic = knn_cosine(emb, query_vec_id=0, k=100).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    return rrf_fuse([lexical, semantic], "doc_id", k=15, r=100)


@register(
    "rolling_7d_active_users",
    oracle="""
with ud as (select distinct cast(ts as date) as day, user_id from events),
tgt as (select distinct ud.day + cast(t.i as int) as day, ud.user_id
        from ud, range(0, 7) t(i)),
obs as (select distinct day from ud),
w as (select tgt.day, cast(count(*) as bigint) as users_7d
      from tgt join obs using (day) group by tgt.day),
dau as (select day, cast(count(*) as bigint) as dau from ud group by day)
select strftime(dau.day, '%Y-%m-%d') as day, dau.dau as dau, w.users_7d as users_7d
from dau join w using (day)
""",
)
def q_rolling_7d_active_users(spark, sf_dir):
    """Rolling 7-day DISTINCT active users per observed day (DAU +
    trailing WAU) — exact, via the bounded-explode plan in
    operators/timeseries.py:rolling_distinct_users: COUNT(DISTINCT)
    does not distribute over RANGE frames, so each distinct
    (user, day) pair is exploded to the 7 target days it stays
    visible in and deduped again — two keyed shuffles on ≤ 7×|user-days|
    rows at any scale, never a global window or per-user history
    rescan. The oracle replays the identical explode in SQL."""
    from .operators.timeseries import rolling_distinct_users

    out = rolling_distinct_users(load_table(spark, sf_dir, "events"))
    # DATE stays the library type; the cross-engine compare projects it
    # as an ISO string (pandas round-trips DuckDB DATE as Timestamp)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "users_7d"
    )


@register(
    "orders_snapshot_diff",
    oracle="""
with old_v as (select * from orders where o_orderkey % 97 <> 3),
new_v as (select o_orderkey, o_custkey,
                 case when o_orderkey % 13 = 1 then 'R' else o_orderstatus end as o_orderstatus,
                 o_totalprice, o_orderdate, o_orderpriority
          from orders where o_orderkey % 101 <> 7),
j as (select coalesce(o.o_orderkey, n.o_orderkey) as o_orderkey,
             case when o.o_orderkey is null then 'added'
                  when n.o_orderkey is null then 'deleted'
                  when o.o_orderstatus <> n.o_orderstatus then 'changed'
             end as change
      from old_v o full outer join new_v n on o.o_orderkey = n.o_orderkey)
select change, o_orderkey from j where change is not null
""",
)
def q_orders_snapshot_diff(spark, sf_dir):
    """CDC change extraction between two versions of a keyed table
    via operators/merge.py:diff_frames (the classification core of
    snapshot_diff, factored so it runs on any two keyed frames). The
    versions are derived deterministically from orders: 'old' drops
    o_orderkey%97=3 (those keys surface as added), 'new' drops
    o_orderkey%101=7 (deleted) and flips o_orderstatus to 'R' where
    o_orderkey%13=1 (changed — unless it was already 'R', in which
    case the key is correctly silent). The injective per-cell sha256
    row fingerprint decides 'changed' on the Spark side (pinned by
    tests/test_merge.py); the oracle replays the CLASSIFICATION by
    direct column comparison — value-checking the change labels
    cross-engine while the fingerprint bytes stay engine-internal
    (double→string forms differ between engines). One key-width
    shuffle at any scale: the full-outer join carries (key, 64-hex)
    tuples, never the payload."""
    from .operators.merge import diff_frames

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 97 != 3)
    new = o.filter(F.col("o_orderkey") % 101 != 7).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 1, F.lit("R")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return diff_frames(old, new, "o_orderkey").select("change", "o_orderkey")


@register(
    "cms_token_counts",
    oracle=f"""
with tok as (select doc_id, unnest({SQL_TOKS}) as item from documents),
ex as (select item, cast(count(*) as bigint) as exact_n,
              cast(sum(case when doc_id % 2 = 0 then 1 else 0 end) as bigint) as exact_n0
       from tok group by item),
ex2 as (select item, exact_n, exact_n0, exact_n - exact_n0 as exact_n1 from ex),
co as (select item, exact_n, exact_n0, exact_n1, t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15)) as bigint) % 64 as bucket
       from ex2, range(0, 4) t(i)),
cells as (select row, bucket, sum(exact_n) as cell_n, sum(exact_n0) as cell_n0,
                 sum(exact_n1) as cell_n1
          from co group by row, bucket),
est as (select item, exact_n, cast(min(cell_n) as bigint) as cms_est,
               cast(min(cell_n0 + cell_n1) as bigint) as cms_est_merged
        from co join cells using (row, bucket) group by item, exact_n)
select item, exact_n, cms_est, cms_est_merged from est
""",
)
def q_cms_token_counts(spark, sf_dir):
    """Count-Min sketch frequency estimates for every corpus token
    (operators/sketches.py:count_min_report, depth=4 × width=64,
    md5-portable buckets) — the over-counting member of the mergeable-
    summaries family (MG undercounts, HLL bounds distincts), and the
    first sketch whose EVERY CELL is value-checked cross-engine: the
    oracle replays the bucket hash, the cell sums, the min-over-rows
    estimate, and the merge proof (cms_est_merged — two half-data
    sketches merged by cellwise sum — must equal the whole-data
    estimate exactly, CMS's defining merge law). Everything after the
    first map-side-combined token count is NDV- or (d×w)-sized."""
    from .operators.sketches import count_min_report

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("item"))
    return count_min_report(tok, "item", "doc_id", depth=4, width=64)


def _mmr_oracle_sql(k: int = 10, lam: float = 0.7, r: int = 50) -> str:
    """Unroll the k-step MMR greedy into k chained CTE stages (the
    semdedup-oracle treatment: an inherently iterative driver loop
    replayed as generated SQL). Float discipline that makes the replay
    exact: every similarity/score is rounded IN-ENGINE before any
    comparison (mmr_rerank's python rounding is Decimal HALF_UP — the
    same BigDecimal semantics as Spark's round()), the (1-λ) literal
    is emitted via repr() so the SQL double equals python's
    1.0 - 0.7 = 0.30000000000000004 bit for bit, and all dot/norm
    folds are sequential double adds in element order in all three
    runtimes (proven cross-engine by the knn_cosine_vec0 oracle)."""
    om = 1.0 - lam

    def cosd(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"sqrt(list_sum(list_transform({a}, x -> x * x)) * "
            f"list_sum(list_transform({b}, x -> x * x))), 6)"
        )

    parts = [
        f"""
with cand as materialized (
  select e.vec_id, {cosd('e.ed', 'q.qd')} as rel, e.ed as e
  from (select vec_id, list_transform(embedding, x -> cast(x as double)) as ed
        from embeddings where vec_id <> 0) e,
       (select list_transform(embedding, x -> cast(x as double)) as qd
        from embeddings where vec_id = 0) q
  order by rel desc, vec_id limit {r}
),
s1 as materialized (select vec_id, rel, e, {lam!r} * rel as score
       from cand order by rel desc, vec_id limit 1),
sel1 as materialized (select vec_id, rel, e from s1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
s{i} as materialized (
  select c.vec_id, c.rel, c.e,
         {lam!r} * c.rel - {om!r} * (
           select max({cosd('c.e', 's.e')}) from sel{i - 1} s) as score
  from cand c
  where c.vec_id not in (select vec_id from sel{i - 1})
  order by score desc, c.vec_id limit 1
),
sel{i} as materialized (select vec_id, rel, e from sel{i - 1}
           union all select vec_id, rel, e from s{i})"""
        )
    selects = "\nunion all ".join(
        f"select {i} as mmr_rank, vec_id, rel as relevance, score as mmr_score from s{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + f"\n{selects}"


@register("mmr_diverse_topk", oracle=_mmr_oracle_sql(k=10, lam=0.7, r=50))
def q_mmr_diverse_topk(spark, sf_dir):
    """Maximal Marginal Relevance diversified top-10 for vec_id=0
    (operators/similarity.py:mmr_rerank, λ=0.7 over the exact cosine
    top-50): the retrieval-time diversity pass that keeps a RAG
    context window from filling with near-copies — the query-side
    complement of corpus-side SemDeDup. Candidate generation is the
    distributed TakeOrderedAndProject top-r; the greedy selection is
    a bounded r×d driver probe (sequential by nature; k Spark jobs
    over 50 rows would just add k scheduling floors). All sims are
    rounded engine-exactly before comparison, ties break to the
    lowest vec_id — and the whole greedy is VALUE-CHECKED against a
    k-stage unrolled SQL replay (_mmr_oracle_sql), not just pinned by
    pytest."""
    from .operators.similarity import mmr_rerank

    return mmr_rerank(load_table(spark, sf_dir, "embeddings"), k=10, r=50)


@register(
    "streaming_cms_refresh",
    oracle=f"""
with tok as (select unnest({SQL_TOKS}) as item from documents),
ex as (select item, cast(count(*) as bigint) as n from tok group by item),
co as (select item, t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15)) as bigint) % 64 as bucket,
              n
       from ex, range(0, 4) t(i)),
cells as (select row, bucket, sum(n) as cell_n from co group by row, bucket),
q as (select * from (values ('spark'), ('hash'), ('join'), ('quantum')) t(item)),
qc as (select q.item, t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', q.item)), 1, 15)) as bigint) % 64 as bucket
       from q, range(0, 4) t(i))
select qc.item, cast(min(coalesce(cells.cell_n, 0)) as bigint) as cms_est
from qc left join cells using (row, bucket)
group by qc.item
""",
)
def q_streaming_cms_refresh(spark, sf_dir):
    """Streaming Count-Min sketch maintenance
    (streaming/upsert.py:run_streaming_cms_refresh): the documents
    corpus arrives in 4 micro-batches; each batch's d×w cell table
    merges into the accumulating sketch by cellwise integer sum, so
    state is 4×64 longs regardless of corpus size or vocabulary. The
    final point-query answers for ('spark', 'hash', 'join') plus the
    never-seen probe 'quantum' must equal the batch-built sketch
    EXACTLY under any slicing (associative integer merge) — the
    oracle replays the full-corpus cells and the same point query in
    SQL. Streaming sibling of `cms_token_counts` the way
    `streaming_mv_refresh` is of `incremental_mv_update`."""
    from .streaming.upsert import run_streaming_cms_refresh

    return run_streaming_cms_refresh(spark, sf_dir)


@register(
    "bloom_token_membership",
    oracle=f"""
with tok as (select unnest({SQL_TOKS}) as item from documents),
vocab as (select distinct item from tok),
pos as (select distinct
               cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15)) as bigint) % 256 as pos
        from vocab, range(0, 4) t(i)),
q as (select * from (values ('spark'), ('hash'), ('join'), ('table'),
                            ('quantum'), ('flux')) t(item)),
qp as (select q.item,
              cast(concat('0x', substr(md5(concat(t.i, ':', q.item)), 1, 15)) as bigint) % 256 as pos
       from q, range(0, 4) t(i)),
hits as (select qp.item, count(p.pos) as nhit
         from qp left join pos p using (pos) group by qp.item)
select q.item, (hits.nhit = 4) as in_filter,
       (q.item in (select item from vocab)) as actually_present
from q join hits using (item)
""",
)
def q_bloom_token_membership(spark, sf_dir):
    """Bloom-filter membership for six probe terms (four from the
    corpus vocabulary, two never-seen) against a 256-bit filter built
    over the distinct corpus tokens
    (operators/sketches.py:bloom_membership_report, k=4 md5-portable
    bit positions) — completing the mergeable-sketch family: CMS
    bounds frequencies (`cms_token_counts`), MG finds heavy hitters,
    HLL bounds distincts, Bloom answers membership in n_bits of state.
    The oracle replays every bit position and probe in SQL, so the
    no-false-negative guarantee AND any honest false positives of the
    absent probes are value-checked cross-engine, not asserted."""
    from .operators.sketches import bloom_membership_report

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("item"))
    return bloom_membership_report(
        tok, "item", ["spark", "hash", "join", "table", "quantum", "flux"]
    )


@register(
    "orc_roundtrip_rollup",
    oracle="""
select event_type,
       cast(count(*) as bigint) as n_events,
       cast(round(sum(cast(value as decimal(18,2))), 2) as double) as total_value,
       cast(sum(cast(concat('0x', substr(md5(cast(event_id as varchar)), 1, 15)) as bigint)
                % 1000000007) as bigint) as id_checksum,
       cast(sum(cast(concat('0x', substr(md5(props), 1, 15)) as bigint)
                % 1000000007) as bigint) as props_checksum
from events group by event_type
""",
)
def q_orc_roundtrip_rollup(spark, sf_dir):
    """ORC source/sink round trip with value-fidelity proof (the
    xml_roundtrip_rollup treatment for the OTHER Spark-native columnar
    format): stage the events table as ORC (sources/sinks.py:write_orc
    — types preserved natively, no inference on read), read it back,
    and roll up per event_type with an exact decimal value sum plus
    md5-derived mod-prime checksums over the id and the raw props
    JSON string. The oracle computes the identical rollup from the
    PARQUET source, so equality proves the ORC writer+reader preserved
    every typed value and every byte of the string payload — across
    the timestamp/double/string type surface, not just row counts.
    Staged copy deleted before return (eager localCheckpoint)."""
    import os
    import shutil
    import tempfile

    from .sources.sinks import write_orc

    ev = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="orcrt_")
    try:
        write_orc(ev, os.path.join(d, "events"))
        back = spark.read.orc(os.path.join(d, "events"))
        chk = lambda c: portable_hash60(c) % F.lit(1000000007)  # noqa: E731
        agg = back.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(chk(F.col("event_id").cast("string"))).cast("long").alias("id_checksum"),
            F.sum(chk(F.col("props"))).cast("long").alias("props_checksum"),
        )
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "asof_nearest_order",
    headline=True,
    oracle="""
with o as (
  select o_custkey, o_orderdate, o_orderkey
  from orders
  qualify row_number() over (
    partition by o_custkey, o_orderdate order by o_orderkey desc) = 1
),
b as (
  select e.event_id, o.o_orderkey as bk,
         epoch_us(e.ts) - epoch_us(o.o_orderdate) as gb
  from events e asof join o
    on e.user_id = o.o_custkey and e.ts >= o.o_orderdate
),
f as (
  select e.event_id, o.o_orderkey as fk,
         epoch_us(o.o_orderdate) - epoch_us(e.ts) as gf
  from events e asof join o
    on e.user_id = o.o_custkey and e.ts <= o.o_orderdate
)
select e.event_id, e.user_id,
       case when b.bk is not null and (f.fk is null or b.gb <= f.gf)
            then b.bk else f.fk end as o_orderkey,
       case when b.bk is not null and (f.fk is null or b.gb <= f.gf)
            then 'backward' else 'forward' end as direction,
       cast(case when b.bk is not null and (f.fk is null or b.gb <= f.gf)
            then b.gb else f.gf end as bigint) as gap_us
from events e
left join b using (event_id)
left join f using (event_id)
where b.bk is not null or f.fk is not null
""",
)
def q_asof_nearest_order(spark, sf_dir):
    """NEAREST-direction as-of join (operators/asof.py:
    asof_nearest_join): each event picks the customer's order CLOSEST
    in time in either direction — kdb nearest-aj / pandas
    merge_asof(direction='nearest'), which Spark lacks as a built-in.
    Ties resolve backward (state at t is known at t). Orders are
    pre-deduped per (custkey, date) keeping max orderkey so both
    engines pick identically. The plan is ONE union of events+orders
    carried under a single key exchange with two window sorts (asc
    and desc) — never a range join, never a per-key rescan; the
    oracle replays it as DuckDB's native backward+forward ASOF JOIN
    pair plus the same tie rule. Exact integer-microsecond gaps."""
    from pyspark.sql import Window

    from .operators.asof import asof_nearest_join

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", us.alias("t_us")
    )
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    o = (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_us"),
            "o_orderkey",
        )
    )
    out = asof_nearest_join(
        ev, o,
        left_key="user_id", right_key="o_custkey",
        left_time="t_us", right_time="o_us",
        payload_cols=["o_orderkey"],
    )
    return out.select(
        "event_id", "user_id", "o_orderkey", "direction",
        F.col("gap").alias("gap_us"),
    )


_TDA_HL_US = 24 * 3600 * 1_000_000  # one-day half-life


@register(
    "attribution_time_decay",
    headline=True,
    oracle=f"""
with conv as (
  select event_id as conv_id, user_id, epoch_us(ts) as t_c,
         cast(value as double) as value
  from events where event_type = 'purchase'
),
touch as (
  select user_id, event_type as channel, epoch_us(ts) as t_t
  from events where event_type in ('click', 'view', 'signup')
),
pairs as (
  select c.conv_id, c.value, t.channel, c.t_c, t.t_t
  from conv c join touch t on c.user_id = t.user_id
   and t.t_t >= c.t_c - {_MTA_W_US} and t.t_t < c.t_c
),
capped as (
  select conv_id, value, channel, t_c, t_t from (
    select p.*,
           row_number() over (partition by conv_id
                              order by t_t desc, channel asc) as rn
    from pairs p
  ) where rn <= {_MTA_CAP}
),
wt as (
  select conv_id, value, channel,
         cast(round(pow(2.0, -cast(t_c - t_t as double) / {_TDA_HL_US}.0), 6)
              as decimal(10,6)) as w
  from capped
),
sw as (select conv_id, sum(w) as sw from wt group by conv_id),
credit as (
  select wt.channel, wt.conv_id,
         wt.value * cast(wt.w as double) / cast(sw.sw as double) as credit
  from wt join sw using (conv_id)
)
select * from (
  select channel,
         cast(count(distinct conv_id) as bigint) as n_conversions,
         cast(count(*) as bigint) as n_touches,
         round(sum(credit), 6) as credit_total
  from credit group by channel
  union all
  select '(direct)', cast(count(*) as bigint), cast(0 as bigint),
         round(sum(value), 6)
  from conv c
  where not exists (select 1 from pairs p where p.conv_id = c.conv_id)
) order by channel
""",
)
def q_attribution_time_decay(spark, sf_dir):
    """TIME-DECAY multi-touch attribution (the third member of the
    attribution family: last-touch, linear-capped, and now
    exponential decay — the standard "recency matters" model): each
    conversion's ≤8 most-recent in-window touches share the credit
    with weight 2^(−Δt/half-life) (1-day half-life), normalized per
    conversion. Reuses the capped family's slot-enumeration core
    (_capped_touch_slots — ≤ cap × conversions rows BY CONSTRUCTION,
    never density²; see attribution_multi_touch_capped). Engine
    portability: the weight is rounded to 6 dp then fixed as
    decimal(10,6) so the per-conversion weight SUM is exact in both
    engines (order-free); each credit is then one double multiply +
    divide, and channel totals use the house round-6 rule."""
    ev = load_table(spark, sf_dir, "events")
    conv, capped = _capped_touch_slots(ev)
    wt = capped.withColumn(
        "w",
        F.round(
            F.pow(
                F.lit(2.0),
                -(F.col("t_c") - F.col("t_t")).cast("double")
                / F.lit(float(_TDA_HL_US)),
            ),
            6,
        ).cast("decimal(10,6)"),
    )
    # per-conversion weight sum via ONE window instead of groupBy +
    # join-back (guide §2.4); decimal sum is order-free exact, so the
    # values are identical.
    credit = wt.withColumn(
        "sw", F.sum("w").over(Window.partitionBy("conv_id"))
    ).select(
        "channel",
        "conv_id",
        (
            F.col("value") * F.col("w").cast("double") / F.col("sw").cast("double")
        ).alias("credit"),
    )
    # conv-spine left join + coalesce instead of union + anti join —
    # see _attribution_channel_totals.
    return _attribution_channel_totals(conv, credit)


@register(
    "mi_lang_source",
    oracle="""
with c as (select lang, source, cast(count(*) as bigint) as n
           from documents group by 1, 2),
m as (
  select lang, source, n,
         sum(n) over (partition by lang) as rt,
         sum(n) over (partition by source) as ct,
         sum(n) over () as big_n
  from c
)
select lang, source, n,
       round(ln(cast(n * big_n as double) / cast(rt * ct as double)), 6) as pmi,
       round(cast(n as double) / cast(big_n as double)
             * ln(cast(n * big_n as double) / cast(rt * ct as double)), 6)
         as mi_contrib
from m
""",
)
def q_mi_lang_source(spark, sf_dir):
    """Mutual information decomposition of the lang × source
    contingency table — the information-theoretic companion to
    chi2_lang_source (chi² asks "is there dependence", MI measures
    HOW MUCH in nats; Σ mi_contrib = I(lang; source), the quantity a
    data-mixing pipeline watches to see whether source composition
    leaks language balance). Per cell: pointwise MI
    ln(n·N/(rt·ct)) and its contribution (n/N)·pmi, both on exact
    int64 counts with one double division and one ln, rounded 6 dp
    (house rule — libm ln's last ulp differs across engines). One
    |langs|×|sources|-bounded aggregate plus window sums over the
    tiny cell table: the statistic costs nothing at 100 TB."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    m = cells.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("rt"),
        F.sum("n").over(Window.partitionBy("source")).alias("ct"),
        F.sum("n").over(Window.partitionBy()).alias("big_n"),
    )
    ratio = (F.col("n") * F.col("big_n")).cast("double") / (
        F.col("rt") * F.col("ct")
    ).cast("double")
    return m.select(
        "lang",
        "source",
        "n",
        F.round(F.log(ratio), 6).alias("pmi"),
        F.round(
            F.col("n").cast("double") / F.col("big_n").cast("double") * F.log(ratio), 6
        ).alias("mi_contrib"),
    )


@register(
    "nucleus_source_subset",
    oracle="""
with r as (
  select source, doc_id, n_chars,
         sum(n_chars) over (partition by source
                            order by n_chars desc, doc_id asc
                            rows between unbounded preceding and current row)
           as cum,
         row_number() over (partition by source
                            order by n_chars desc, doc_id asc) as rn,
         sum(n_chars) over (partition by source) as total
  from documents
)
select source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(case when 2 * cum <= total or rn = 1 then 1 else 0 end)
            as bigint) as docs_kept,
       cast(sum(case when 2 * cum <= total or rn = 1 then n_chars else 0 end)
            as bigint) as chars_kept,
       cast(max(total) as bigint) as total_chars,
       round(cast(sum(case when 2 * cum <= total or rn = 1 then n_chars
                           else 0 end) as double)
             / cast(max(total) as double), 6) as share_kept
from r group by source
""",
)
def q_nucleus_source_subset(spark, sf_dir):
    """Per-source NUCLEUS (top-p) selection
    (operators/curation.py:nucleus_subset_by_group): within each
    source, rank docs by n_chars desc and keep the prefix holding at
    most HALF the source's total mass (2·cumsum ≤ total, exact
    integer arithmetic — no float threshold drift), top row always
    kept — the grouped sibling of the global token_budget_subset,
    i.e. "cap every source at the best half of its mass" from the
    data-mixing playbook. One keyed window per source (cumsum, rank
    and total share the partitionBy(source) exchange); per-group
    output here is the |sources|-bounded rollup. Source skew beyond
    one task is the documented hand-off to
    operators/ranks.py:grouped_prefix_sum (same trade as
    seq_packing)."""
    from .operators.curation import nucleus_subset_by_group

    docs = load_table(spark, sf_dir, "documents")
    r = nucleus_subset_by_group(docs, "source", "n_chars", "doc_id")
    total = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("docs_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_kept"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return total.withColumn(
        "share_kept",
        F.round(
            F.col("chars_kept").cast("double") / F.col("total_chars").cast("double"), 6
        ),
    )


@register(
    "token_kl_drift",
    oracle=f"""
with tok as (select doc_id, unnest({SQL_TOKS}) as token from documents),
c as (
  select token,
         cast(sum(case when doc_id % 2 = 0 then 1 else 0 end) as bigint) as c0,
         cast(sum(case when doc_id % 2 = 1 then 1 else 0 end) as bigint) as c1
  from tok group by token
),
s as (select sum(c0) as t0, sum(c1) as t1, count(*) as v from c),
kl as (
  select token, c0, c1,
         round((cast(c1 + 1 as double) / cast(t1 + v as double))
               * ln((cast(c1 + 1 as double) / cast(t1 + v as double))
                    / (cast(c0 + 1 as double) / cast(t0 + v as double))), 6)
           as kl_contrib
  from c, s
)
select token, c0, c1, kl_contrib
from kl
order by kl_contrib desc, token asc
limit 20
""",
)
def q_token_kl_drift(spark, sf_dir):
    """Token-distribution drift monitor: KL(P_new ‖ P_old) decomposed
    per token between the doc_id-parity halves of the corpus (the
    deterministic stand-in for yesterday's crawl vs today's), add-1
    smoothed over the union vocabulary so one-sided tokens stay
    finite — the drift alarm a training-data pipeline runs before
    mixing a new batch (PSI's token-level sibling; psi_value_drift
    covers the numeric column case). Top-20 positive contributors
    (tokens newly over-represented), exact int64 counts, probabilities
    as single double divisions, ln rounded 6 dp (house rule). One
    map-side-combined token aggregate (NDV-sized) + a 1-row scalar
    cross join; TakeOrderedAndProject for the cut."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("c0"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
        )
    )
    s = c.agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1"), F.count(F.lit(1)).alias("v")
    )
    p_new = (F.col("c1") + 1).cast("double") / (F.col("t1") + F.col("v")).cast("double")
    p_old = (F.col("c0") + 1).cast("double") / (F.col("t0") + F.col("v")).cast("double")
    return (
        c.crossJoin(F.broadcast(s))
        .select(
            "token",
            "c0",
            "c1",
            F.round(p_new * F.log(p_new / p_old), 6).alias("kl_contrib"),
        )
        .orderBy(F.col("kl_contrib").desc(), F.col("token").asc())
        .limit(20)
    )


@register(
    "basket_lift_pairs",
    oracle="""
with b as (select distinct l_orderkey, l_partkey from lineitem),
n as (select cast(count(distinct l_orderkey) as bigint) as big_n from b),
pa as (select l_partkey, cast(count(*) as bigint) as n_a from b group by 1),
pairs as (
  select a.l_partkey as p1, c.l_partkey as p2,
         cast(count(*) as bigint) as n_ab
  from b a join b c
    on a.l_orderkey = c.l_orderkey and a.l_partkey < c.l_partkey
  group by 1, 2
)
select p.p1, p.p2, p.n_ab,
       round(cast(p.n_ab * n.big_n as double)
             / cast(x.n_a * y.n_a as double), 6) as lift
from pairs p, n
join pa x on x.l_partkey = p.p1
join pa y on y.l_partkey = p.p2
order by p.n_ab desc, lift desc, p.p1, p.p2
limit 20
""",
)
def q_basket_lift_pairs(spark, sf_dir):
    """Market-basket co-occurrence with LIFT scoring — the
    recommender / affinity primitive: parts bought together in one
    order, lift(a,b) = n_ab·N / (n_a·n_b) (>1 ⇒ the pair co-occurs
    more than independence predicts). The scale contract is that the
    pair enumeration is bounded by BASKET SIZE, not catalog size: the
    self-join is keyed on l_orderkey, so each order contributes
    ≤ C(basket,2) pairs (TPC-H baskets are ≤7 lines) — the classic
    per-transaction fan-out of frequent-itemset mining, linear in
    orders at any corpus scale. Exact int64 supports; lift is one
    double division rounded 6 dp; top-20 by (support, lift, pair)
    total order via TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.count_distinct("l_orderkey").cast("long").alias("big_n"))
    pa = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    # per-basket pair expansion via ONE aggregate instead of the
    # order-keyed self-join (optimization r14, second segment): each
    # order's sorted part set (bounded by basket size, ≤7 lines in
    # TPC-H) expands to its C(basket,2) pairs JVM-side — one shuffle of
    # the basket stream instead of two join sides. Interleaved medians
    # at sf0.1: 2.5 -> 1.9 s, top-20 bit-equal.
    by_o = (
        b.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("us"))
        .filter(F.size("us") >= 2)
    )
    pairs = (
        by_o.select(
            F.explode(
                F.expr(
                    "flatten(transform(us, (a, i) -> "
                    "transform(slice(us, i + 2, size(us) - i - 1), "
                    "b -> struct(a, b))))"
                )
            ).alias("q")
        )
        .select(F.col("q.a").alias("p1"), F.col("q.b").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    out = (
        pairs.join(pa.select(F.col("l_partkey").alias("p1"), F.col("n_a").alias("na")), "p1")
        .join(pa.select(F.col("l_partkey").alias("p2"), F.col("n_a").alias("nb")), "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("big_n")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("n_ab").desc(), F.col("lift").desc(), F.col("p1"), F.col("p2")
    ).limit(20)


@register(
    "theil_sen_daily_trend",
    oracle="""
with d as (
  select event_type,
         cast(epoch_us(cast(cast(ts as date) as timestamp)) // 86400000000 as bigint) as day,
         cast(round(sum(cast(value as decimal(18,2))), 2) as double) as v
  from events group by 1, 2
),
p as (
  select a.event_type,
         (b.v - a.v) / cast(b.day - a.day as double) as slope,
         a.day as d1, b.day as d2
  from d a join d b
    on a.event_type = b.event_type and b.day > a.day
),
r as (
  select event_type, slope,
         row_number() over (partition by event_type
                            order by slope asc, d1 asc, d2 asc) as rn,
         count(*) over (partition by event_type) as n_pairs
  from p
)
select event_type, cast(max(n_pairs) as bigint) as n_pairs,
       max(case when rn = (n_pairs + 1) // 2 then slope end) as ts_slope
from r group by event_type
""",
)
def q_theil_sen_daily_trend(spark, sf_dir):
    """Theil–Sen robust trend estimator per event type: the (lower)
    MEDIAN of all pairwise slopes between daily value totals — the
    outlier-resistant alternative to the OLS trend
    (per_type_value_trend); one corrupted day moves OLS arbitrarily
    but shifts a median slope by at most one rank. Scale contract:
    the all-pairs step runs on the DAILY AGGREGATE, never the events
    — ≤ C(days, 2) pairs per type (the date domain is bounded; ~30
    observed days → ≤435 pairs), so the quadratic lives on a frame
    whose size is fixed by the calendar, not the data. Daily totals
    are exact decimal sums cast once to double; each slope is a
    single double division (engine-exact, no rounding needed); the
    lower median at rank ⌊(n+1)/2⌋ avoids averaging two doubles. One
    keyed aggregate + a tiny per-type window."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "event_type",
            (F.unix_micros(F.to_date("ts").cast("timestamp")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("v")
        )
    )
    a = d.select(F.col("event_type"), F.col("day").alias("d1"), F.col("v").alias("v1"))
    b = d.select(F.col("event_type"), F.col("day").alias("d2"), F.col("v").alias("v2"))
    p = a.join(b, "event_type").filter(F.col("d2") > F.col("d1")).select(
        "event_type",
        ((F.col("v2") - F.col("v1")) / (F.col("d2") - F.col("d1")).cast("double")).alias(
            "slope"
        ),
        "d1",
        "d2",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("slope").asc(), F.col("d1").asc(), F.col("d2").asc()
    )
    r = p.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_pairs"),
    )
    # lower-median rank: integer floor division — Spark's `/` on longs
    # is DOUBLE division, so `rn == (n+1)/2` would be x.5 ≠ rn for any
    # EVEN pair count and silently null the median (caught in review;
    # C(days,2) happened to be odd at every tested tier)
    return r.groupBy("event_type").agg(
        F.max("n_pairs").cast("long").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2), F.col("slope")
            ).otherwise(F.lit(None))
        ).alias("ts_slope"),
    )


@register(
    "concurrent_open_orders",
    oracle="""
with bounds as (
  select cast(o_orderdate as date) as open_day,
         cast(o_orderdate as date) + interval 30 day as close_day
  from orders
),
deltas as (
  select cast(open_day as date) as day, cast(count(*) as bigint) as d
  from bounds group by 1
  union all
  select cast(close_day as date) as day, -cast(count(*) as bigint) as d
  from bounds group by 1
),
net as (select day, cast(sum(d) as bigint) as net from deltas group by day)
select strftime(day, '%Y-%m-%d') as day,
       cast(sum(net) over (order by day
                           rows between unbounded preceding and current row)
            as bigint) as open_orders
from net
""",
)
def q_concurrent_open_orders(spark, sf_dir):
    """Concurrent-interval stacking by SWEEP LINE: how many orders are
    simultaneously open per day, with each order open for 30 days
    from o_orderdate — the interval-counting problem solved WITHOUT
    any interval join: every order contributes a +1 at its open day
    and a −1 at its close day, deltas aggregate per day (map-side
    combined, output bounded by the DATE DOMAIN — ~2.4k days for
    TPC-H regardless of row count), and one running sum over that
    calendar-bounded frame yields the concurrency curve. The
    unpartitioned window is the documented bounded-frame exception
    (it sees ≤ |calendar| rows by construction, same class as the
    ≤r probe windows). The streaming sibling of this shape is the
    watermarked state in events_gap_fill; the join-based alternative
    (day × open-interval range join) would be days × orders."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    open_d = F.to_date("o_orderdate").alias("day")
    close_d = F.date_add(F.to_date("o_orderdate"), 30).alias("day")
    opens = o.select(open_d).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    closes = o.select(close_d).groupBy("day").agg(
        (-F.count(F.lit(1))).cast("long").alias("d")
    )
    net = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("d").cast("long").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return net.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


@register(
    "jsonl_roundtrip_rollup",
    oracle="""
select event_type,
       cast(count(*) as bigint) as n_events,
       cast(round(sum(cast(value as decimal(18,2))), 2) as double) as total_value,
       cast(sum(cast(concat('0x', substr(md5(cast(event_id as varchar)), 1, 15)) as bigint)
                % 1000000007) as bigint) as id_checksum,
       cast(sum(cast(concat('0x', substr(md5(props), 1, 15)) as bigint)
                % 1000000007) as bigint) as props_checksum,
       cast(sum(cast(concat('0x', substr(md5(strftime(ts at time zone 'UTC', '%Y-%m-%d %H:%M:%S.%f')), 1, 15)) as bigint)
                % 1000000007) as bigint) as ts_checksum
from events group by event_type
""",
)
def q_jsonl_roundtrip_rollup(spark, sf_dir):
    """JSON-lines source/sink round trip with value-fidelity proof —
    completing the format matrix (parquet native, ORC
    `orc_roundtrip_rollup`, XML `xml_roundtrip_rollup`, CSV
    quarantine pipeline): stage the events table as gzipped JSONL,
    read it back with an EXPLICIT schema (no inference pass — the
    production contract for semi-structured interchange), and roll up
    per event_type with the exact decimal value sum, md5 mod-prime
    checksums over event_id and the raw props payload, AND a
    microsecond-precision UTC timestamp checksum — so the round trip
    proves the JSON writer/reader preserved every typed value
    including the timestamp's full µs precision (the classic JSON
    loss point). The oracle computes the identical rollup from the
    PARQUET source. Staged copy deleted before return."""
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="jsonlrt_")
    # Spark's DEFAULT JSON timestamp formats carry milliseconds only —
    # the first run of this query's ts_checksum caught the µs
    # truncation cross-engine. The explicit µs format on BOTH sides is
    # the fix (and the reason the checksum exists); ts is
    # TimestampNTZ, which reads its own timestampNTZFormat option.
    ntz_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    try:
        path = os.path.join(d, "events")
        ev.write.option("compression", "gzip").option(
            "timestampNTZFormat", ntz_fmt
        ).mode("overwrite").json(path)
        back = (
            spark.read.schema(ev.schema)
            .option("timestampNTZFormat", ntz_fmt)
            .json(path)
        )
        chk = lambda c: portable_hash60(c) % F.lit(1000000007)  # noqa: E731
        ts_str = F.date_format(
            F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        )
        agg = back.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(chk(F.col("event_id").cast("string"))).cast("long").alias("id_checksum"),
            F.sum(chk(F.col("props"))).cast("long").alias("props_checksum"),
            F.sum(chk(ts_str)).cast("long").alias("ts_checksum"),
        )
        return agg.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "pq_adc_topk",
    oracle="""
with le as (select vec_id,
                   list_transform(embedding, x -> cast(x as double)) as e
            from embeddings),
sub as (
  select vec_id, j.j,
         list_slice(e, 16 * j.j + 1, 16 * j.j + 16) as s
  from le, range(0, 4) j(j)
),
cb as (select j, vec_id as cid, s as cs from sub where vec_id < 16),
qs as (select j, s as q from sub where vec_id = 0),
dtab as (
  select cb.j, cb.cid,
         round(list_sum(list_transform(list_zip(qs.q, cb.cs),
                                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) as dq
  from cb join qs using (j)
),
cand as (select vec_id, j, s from sub where vec_id > 0),
codes as (
  select vec_id, j, cid
  from (
    select c.vec_id, c.j, cb.cid,
           round(list_sum(list_transform(list_zip(c.s, cb.cs),
                                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) as d
    from cand c join cb using (j)
  )
  qualify row_number() over (partition by vec_id, j order by d, cid) = 1
),
adc as (
  select codes.vec_id, round(sum(dtab.dq), 6) as adc_dist
  from codes join dtab on codes.j = dtab.j and codes.cid = dtab.cid
  group by codes.vec_id
)
select vec_id, adc_dist from adc
order by adc_dist asc, vec_id asc
limit 10
""",
)
def q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze & Schmid, TPAMI'11 — the IVF-PQ workhorse): split
    the 64-d embeddings into m=4 16-d subspaces, quantize each
    subspace against k=16 deterministic seed centroids (vec_id < 16 —
    the ivf_assignments seeding convention, which keeps the whole
    model oracle-replayable), and answer the vec-0 query by ADC:
    approx dist(v) = Σⱼ D[j][codeⱼ(v)] where D is the query's
    16×4-entry subspace distance table. The memory story PQ exists
    for: each vector compresses 64 floats → 4 one-byte codes (64×),
    and query cost is m table lookups per candidate instead of a
    64-d scan.

    Plan shape: codebook and distance table are (m·k)-bounded frames
    built from the same scan and BROADCAST; candidates explode ×m
    (bounded), argmin per (vec, subspace) rides a max-struct
    aggregate, ADC is one broadcast lookup join + a per-vec sum —
    one corpus scan, no corpus shuffle wider than ×m. Subspace
    distances are SQUARED (additive across subspaces — the reason
    ADC sums work) and rounded 6 dp before the argmin/sum (house
    float-portability rule). Top-10 by (adc_dist, vec_id). Recall vs
    exact cosine is pinned by pytest, not asserted here."""
    emb = load_table(spark, sf_dir, "embeddings")
    m, sub_d, k = 4, 16, 16
    le = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
    )
    sub = le.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(F.col("e"), j * sub_d + 1, sub_d).alias("s"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("c"),
    ).select("vec_id", F.col("c.j").alias("j"), F.col("c.s").alias("s"))

    def dsq(a, b):
        return F.round(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    cb = sub.filter(F.col("vec_id") < k).select(
        "j", F.col("vec_id").alias("cid"), F.col("s").alias("cs")
    )
    qs = sub.filter(F.col("vec_id") == 0).select("j", F.col("s").alias("q"))
    dtab = cb.join(F.broadcast(qs), "j").select(
        "j", "cid", dsq(F.col("q"), F.col("cs")).alias("dq")
    )
    cand = sub.filter(F.col("vec_id") > 0)
    best = F.min(F.struct(dsq(F.col("s"), F.col("cs")).alias("d"), F.col("cid")))
    codes = (
        cand.join(F.broadcast(cb), "j")
        .groupBy("vec_id", "j")
        .agg(best.alias("b"))
        .select("vec_id", "j", F.col("b.cid").alias("cid"))
    )
    return (
        codes.join(F.broadcast(dtab), ["j", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("dq"), 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


_SWEEP_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "dedup_threshold_sweep",
    oracle=f"""
with t as (select doc_id, lang, source, {{SQL_TOKS}} as toks from documents),
g as (select doc_id, lang, source, toks,
             unnest(generate_series(1, len(toks) - 2)) as g
      from t),
sh_all as (
  select distinct doc_id, lang, source,
         array_to_string(toks[g:g+2], ' ') as shingle
  from g
),
hot as (select lang, source, shingle from sh_all
        group by 1, 2, 3 having count(*) > 100),
sh as (
  select a.* from sh_all a
  where not exists (select 1 from hot h
                    where h.lang = a.lang and h.source = a.source
                      and h.shingle = a.shingle)
),
sizes as (select doc_id, count(*) as n from sh group by doc_id),
inter as (
  select a.doc_id as da, b.doc_id as db, count(*) as ni
  from sh a
  join sh b on a.shingle = b.shingle and a.lang = b.lang
           and a.source = b.source and a.doc_id < b.doc_id
  group by 1, 2
),
pairs as (
  select da, db,
         cast(ni as double) / cast(sa.n + sb.n - ni as double) as jaccard
  from inter
  join sizes sa on da = sa.doc_id
  join sizes sb on db = sb.doc_id
  where cast(ni as double) / cast(sa.n + sb.n - ni as double) >= 0.05
),
sweep as (
  select t.t as threshold, p.da, p.db
  from pairs p, unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) t(t)
  where p.jaccard >= t.t
),
docs as (select threshold, unnest([da, db]) as doc from sweep)
select threshold,
       cast(count(*) / 2 as bigint) as n_pairs,
       cast(count(distinct doc) as bigint) as n_docs_affected
from docs group by threshold
""".replace("{SQL_TOKS}", SQL_TOKS),
)
def q_dedup_threshold_sweep(spark, sf_dir):
    """Dedup aggressiveness TUNING CURVE: how many near-dup pairs and
    affected documents each Jaccard threshold in 0.1..0.9 would hit —
    the report a pipeline owner reads before choosing how hard to
    dedup (too low: false merges eat real data; too high: near-copies
    survive into training). The expensive part — the blocked,
    df-capped pair stream (operators/dedup.py:ngram_jaccard_pairs
    plan, floored at 0.05) — is computed ONCE; the nine thresholds
    ride a bounded ×9 explode of the PAIR frame (pairs ≪ corpus by
    construction), so the sweep costs one dedup pass plus a tiny
    rollup, not nine dedup passes. Exact rational jaccards make every
    threshold comparison engine-identical."""
    from .operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.05
    )
    th = F.explode(F.array(*[F.lit(float(t)) for t in _SWEEP_THRESHOLDS]))
    sweep = (
        pairs.select("doc_id_a", "doc_id_b", "jaccard", th.alias("threshold"))
        .filter(F.col("jaccard") >= F.col("threshold"))
    )
    docs = sweep.select(
        "threshold",
        F.explode(F.array(F.col("doc_id_a"), F.col("doc_id_b"))).alias("doc"),
    )
    return docs.groupBy("threshold").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.count_distinct("doc").cast("long").alias("n_docs_affected"),
    )


@register(
    "ivf_index_roundtrip",
    oracle=QUERIES["ivf_search_vec0"].oracle,
)
def q_ivf_index_roundtrip(spark, sf_dir):
    """IVF index PERSISTENCE round trip — the deployment shape of
    ANN-on-a-lake: build the index (seed-centroid ivf_assign — same
    model as `ivf_assignments`, kept oracle-replayable), WRITE it as
    two parquet tables — assignments partitioned BY CENTROID (one
    directory per bucket: the layout that turns probe selection into
    FILE-LEVEL partition pruning) plus the centroid vectors — RELOAD
    both from disk, and answer the vec-0 probe-2 search purely from
    the persisted index: the probed buckets arrive as an `isin` on
    the partition column, so the index scan reads ONLY the two
    probed directories (PartitionFilters — pytest-guarded), never the
    full assignment table. Final answers must equal the in-memory
    `ivf_search_vec0` exactly — the oracle IS that query's SQL,
    proving the round trip preserved every assignment and distance.
    At 100 TB: the index build is one pass; every later query is two
    bucket files + a candidate-sized exact rerank."""
    import os
    import shutil
    import tempfile

    from .operators.similarity import cosine_topk, ivf_assign, ivf_probe

    emb = load_table(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="ivfidx_")
    try:
        ivf_assign(emb, n_centroids=8).write.partitionBy("centroid_id").mode(
            "overwrite"
        ).parquet(os.path.join(d, "assignments"))
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        ).write.mode("overwrite").parquet(os.path.join(d, "centroids"))

        cents = spark.read.parquet(os.path.join(d, "centroids")).select(
            "centroid_id", F.col("embedding").alias("c_emb")
        )
        assign = spark.read.parquet(os.path.join(d, "assignments"))
        qvec = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("q_embedding")
        )
        # nprobe=2 ids — a bounded model-probe fetch, materialized as
        # literals so the bucket filter prunes index PARTITIONS at plan
        # time (not a data collect)
        probe_ids = [int(r["centroid_id"]) for r in ivf_probe(qvec, cents).collect()]
        cand = assign.filter(
            F.col("centroid_id").isin(probe_ids) & (F.col("vec_id") != 0)
        ).select("vec_id")
        return cosine_topk(emb.join(cand, "vec_id"), qvec, 10).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "interval_coactivity_counts",
    oracle="""
with iv as (
  select cast(ts as date) as day, user_id,
         min(epoch_us(ts)) as s, max(epoch_us(ts)) as e
  from events where event_type = 'purchase'
  group by 1, 2 having count(*) >= 2
)
select strftime(a.day, '%Y-%m-%d') as day,
       cast(count(*) as bigint) as n_pairs
from iv a join iv b
  on a.day = b.day and a.user_id < b.user_id
 and a.s <= b.e and b.s <= a.e
group by a.day
""",
)
def q_interval_coactivity_counts(spark, sf_dir):
    """Interval co-activity (operators/sessions.py:
    interval_coactivity_counts): per day, count the user pairs whose
    same-day purchase-burst intervals [first, last] overlap —
    co-activity / fraud-ring style detection. n_overlap = C(n,2) −
    disjoint pairs, disjoint counted by a per-day endpoint-sweep merge
    rank — one window over 2n endpoint rows, NO pair stream at all.
    This is the plan class DuckDB's specialized IEJoin applies
    automatically (measured at ×30: a bin-bucketed pair join
    materialized 4M pairs in ~4.6 s; this sweep answers in sub-second,
    engine-parity with IEJoin — see PERF.md round 10). The oracle runs
    the direct overlap self-join."""
    from .operators.sessions import interval_coactivity_counts

    ev = load_table(spark, sf_dir, "events")
    out = interval_coactivity_counts(ev)
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n_pairs"
    )


# --- round 11: statistics / time-series / CF / model-prep additions ---


@register(
    "pareto_frontier_parts",
    oracle="""
with g as (
  select p_retailprice as price, max(p_size) as gmax
  from part group by p_retailprice
),
s as (
  select price, gmax,
         max(gmax) over (order by price asc
                         rows between unbounded preceding and 1 preceding)
           as pmax
  from g
)
select p.p_partkey, p.p_brand,
       round(p.p_retailprice, 2) as price,
       cast(p.p_size as int) as psize
from part p
join s on p.p_retailprice = s.price
where p.p_size = s.gmax and (s.pmax is null or s.pmax < p.p_size)
order by price, p.p_partkey
""",
)
def q_pareto_frontier_parts(spark, sf_dir):
    """Skyline (Pareto-frontier) query: parts not dominated on
    (price low, size high) — A dominates B iff A.price ≤ B.price,
    A.size ≥ B.size, one strict. The classic BNL/D&C skyline
    literature reduces to a sort-based sweep for 2-D: collapse to the
    per-price size maximum (one groupBy at NDV(price) altitude —
    price is a bounded domain, 200 distinct at sf0.001), take the
    exclusive prefix max over strictly-cheaper prices (a window over
    the NDV-sized histogram, never over the parts), and keep a part
    iff it tops its own price group and beats every cheaper group.
    Equal (price, size) twins are both frontier members (neither
    dominates). At 100 TB the only full-data ops are one groupBy and
    one broadcast-joinable histogram lookup."""
    part = load_table(spark, sf_dir, "part")
    g = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("gmax")
    )
    s = g.withColumn(
        "pmax",
        F.max("gmax").over(
            Window.orderBy(F.col("price").asc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    )
    return (
        part.join(F.broadcast(s), part["p_retailprice"] == s["price"])
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("pmax").isNull() | (F.col("pmax") < F.col("p_size")))
        )
        .select(
            "p_partkey",
            "p_brand",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").cast("int").alias("psize"),
        )
        .orderBy("price", "p_partkey")
    )


@register(
    "ols_value_trend",
    oracle="""
with e as (
  select event_type,
         cast(date_diff('day', date '2024-01-01', cast(ts as date))
              as bigint) as x,
         cast(value as decimal(12,2)) as y
  from events
),
a as (
  select event_type,
         cast(count(*) as bigint) as n,
         sum(x) as sx,
         sum(x * x) as sxx,
         sum(y) as sy,
         sum(cast(x as decimal(10,0)) * y) as sxy,
         sum(y * y) as syy
  from e group by event_type
)
select event_type, n,
  round((cast(n as double) * cast(sxy as double)
         - cast(sx as double) * cast(sy as double))
        / (cast(n as double) * cast(sxx as double)
           - cast(sx as double) * cast(sx as double)), 8) as slope,
  round((cast(sy as double) * cast(sxx as double)
         - cast(sx as double) * cast(sxy as double))
        / (cast(n as double) * cast(sxx as double)
           - cast(sx as double) * cast(sx as double)), 6) as intercept,
  round((cast(n as double) * cast(sxy as double)
         - cast(sx as double) * cast(sy as double))
        * (cast(n as double) * cast(sxy as double)
           - cast(sx as double) * cast(sy as double))
        / ((cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))
           * (cast(n as double) * cast(syy as double)
              - cast(sy as double) * cast(sy as double))), 6) as r2
from a order by event_type
""",
)
def q_ols_value_trend(spark, sf_dir):
    """Per-group closed-form OLS (slope / intercept / R²) of event
    value on time — the grouped linear-trend fit behind drift
    monitors and per-segment forecasting, as ONE aggregation pass:
    slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) needs only the five sufficient
    statistics, so the plan is a single map-side-combinable groupBy —
    no per-group sort, no window, no iteration (contrast
    theil_sen_daily_trend, the robust sibling that pays pairwise
    slopes for outlier resistance). Engine portability: x is integer
    days (≤30), y exact decimal(12,2), so all seven sums are exact
    and order-free; the slope/intercept/R² arithmetic then runs in
    ONE double expression with identical parenthesization in both
    engines (the gini precedent) — bit-identical before rounding.
    At 100 TB: sufficient-statistics aggregation is the canonical
    scale shape (constant state per group)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(12,2)").alias("y"),
    )
    a = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    syy_d = F.col("syy").cast("double")
    num = n_d * sxy_d - sx_d * sy_d
    den = n_d * sxx_d - sx_d * sx_d
    return a.select(
        "event_type",
        "n",
        F.round(num / den, 8).alias("slope"),
        F.round((sy_d * sxx_d - sx_d * sxy_d) / den, 6).alias("intercept"),
        F.round(num * num / (den * (n_d * syy_d - sy_d * sy_d)), 6).alias("r2"),
    ).orderBy("event_type")


@register(
    "ks_value_two_sample",
    oracle="""
with per as (
  select value,
         cast(sum(case when event_type = 'purchase' then 1 else 0 end)
              as bigint) as c1,
         cast(sum(case when event_type = 'click' then 1 else 0 end)
              as bigint) as c2
  from events
  where event_type in ('purchase', 'click')
  group by value
),
c as (
  select value,
         cast(sum(c1) over (order by value asc
                            rows between unbounded preceding and current row)
              as bigint) as cum1,
         cast(sum(c2) over (order by value asc
                            rows between unbounded preceding and current row)
              as bigint) as cum2
  from per
),
t as (select cast(sum(c1) as bigint) as n1,
             cast(sum(c2) as bigint) as n2 from per)
select n1, n2,
       round(cast(abs(cum1 * n2 - cum2 * n1) as double)
             / (cast(n1 as double) * cast(n2 as double)), 6) as ks_d,
       round(value, 2) as at_value
from c cross join t
order by abs(cum1 * n2 - cum2 * n1) desc, value asc
limit 1
""",
)
def q_ks_value_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic between the purchase
    and click value distributions — the standard distribution-shift
    test (feature drift between cohorts, A/B invariance checks).
    D = max_v |F̂1(v) − F̂2(v)| over the pooled support, computed at
    DISTINCT-VALUE altitude: one groupBy(value) to per-value counts
    (2-decimal domain → NDV-bounded), then two distributed exclusive
    prefix sums via operators/ranks.py:grouped_prefix_sum (range-
    partitioned runs + width-bounded offsets — never a one-task
    global window over the NDV stream), and the max of the EXACT
    integer cross-difference |cum1·n2 − cum2·n1| (≤4·10¹² at sf0.1 —
    int64-safe), divided once at the end. Ties broken to the
    smallest value attaining D. At 100 TB the only full-data op is
    the first groupBy; everything after runs on the value histogram."""
    from .operators.ranks import grouped_prefix_sum

    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
        .withColumn("__g", F.lit(0))
    )
    g = grouped_prefix_sum(per, "__g", "value", "c1", out_col="p1")
    g = grouped_prefix_sum(g, "__g", "value", "c2", out_col="p2")
    g = g.select(
        "value",
        "c1",
        "c2",
        (F.col("p1") + F.col("c1")).cast("long").alias("cum1"),
        (F.col("p2") + F.col("c2")).cast("long").alias("cum2"),
    )
    t = per.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    diff = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "n1",
            "n2",
            F.round(
                diff.cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
            F.round("value", 2).alias("at_value"),
            diff.alias("__d"),
            F.col("value").alias("__v"),
        )
        .orderBy(F.col("__d").desc(), F.col("__v").asc())
        .limit(1)
        .drop("__d", "__v")
    )


@register(
    "largest_remainder_alloc",
    oracle="""
with rev as (
  select r_name,
         cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)
           as cents
  from orders
  join customer on o_custkey = c_custkey
  join nation on c_nationkey = n_nationkey
  join region on n_regionkey = r_regionkey
  group by r_name
),
t as (select cast(sum(cents) as bigint) as total from rev),
q as (
  select r_name, cents,
         (10000 * cents) // total as base,
         (10000 * cents) % total as rem
  from rev cross join t
),
l as (select cast(10000 - sum(base) as bigint) as leftover from q),
r as (
  select q.*, row_number() over (order by rem desc, r_name asc) as rk
  from q
)
select r_name,
       cast(base + case when rk <= leftover then 1 else 0 end as bigint)
         as seats
from r cross join l
order by r_name
""",
)
def q_largest_remainder_alloc(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split a fixed
    integer budget of 10000 units across regions proportionally to
    revenue — the exact-integer allocation primitive behind quota
    assignment, sampling-budget splits, and proportional shard
    sizing, where naive float rounding leaves the total off by ±k.
    Quotas are exact 64-bit rationals (revenue in integer cents;
    10000·cents ≤ 3.7·10¹⁶ at sf0.1 — int64-safe; the ×1000 tier
    would promote to decimal), floors via integer div/mod, and the
    leftover units go to the largest remainders (region-name
    tiebreak) — Σseats = 10000 by construction. Plan shape: the star
    join + groupBy of revenue_by_region, then all allocation logic on
    the 5-row region frame (scalar broadcasts, no second pass over
    facts)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("long")
            .alias("cents")
        )
    )
    t = rev.agg(F.sum("cents").cast("long").alias("total"))
    q = rev.crossJoin(F.broadcast(t)).select(
        "r_name",
        "cents",
        F.expr("(10000 * cents) div total").alias("base"),
        ((10000 * F.col("cents")) % F.col("total")).alias("rem"),
    )
    lft = q.agg((F.lit(10000) - F.sum("base")).cast("long").alias("leftover"))
    r = q.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("r_name").asc())),
    )
    return (
        r.crossJoin(F.broadcast(lft))
        .select(
            "r_name",
            (
                F.col("base") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("seats"),
        )
        .orderBy("r_name")
    )


def _daily_revenue_grid(spark, sf_dir):
    """Shared helper: the gapless daily-revenue series (i, day, x) —
    one groupBy(day) over orders (the only full-data op), a calendar
    spine exploded from the (min, max) scalar row, and zero-fill. The
    series altitude is CALENDAR-bounded (~2400 days regardless of SF),
    so every consumer (ACF, CUSUM, backtest) runs its lag joins and
    prefix sums on a constant-size frame — at 100 TB the grid is the
    same 2400 rows."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("r")
    )
    b = rev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = b.select(F.explode(F.sequence("d0", "d1")).alias("day"), "d0")
    return spine.join(rev, "day", "left").select(
        F.datediff("day", "d0").cast("long").alias("i"),
        "day",
        F.coalesce("r", F.lit(0).cast("decimal(14,2)")).alias("x"),
    )


def _finish_then_unpersist(out, cached):
    """Materialize the (tiny, aggregate-altitude) result while the
    shared grid is cached, then release the cache deterministically:
    a persisted grid must not outlive its query in a 257-query
    harness session (r11 advisor — the registry otherwise has zero
    persist() sites, and leaked grids evict useful cache blocks).
    localCheckpoint pins the handful of result rows so the returned
    DataFrame never re-references the unpersisted plan."""
    out = out.localCheckpoint(eager=True)
    cached.unpersist()
    return out


_DAILY_GRID_SQL = """
rev as (
  select cast(o_orderdate as date) as day,
         sum(cast(o_totalprice as decimal(14,2))) as r
  from orders group by 1
),
b as (select min(day) as d0, max(day) as d1 from rev),
x as (
  select cast(date_diff('day', (select d0 from b), s.day) as bigint) as i,
         s.day,
         coalesce(rev.r, cast(0 as decimal(14,2))) as x
  from (select unnest(generate_series((select d0 from b),
                                      (select d1 from b),
                                      interval 1 day))::date as day) s
  left join rev on rev.day = s.day
)
"""


@register(
    "acf_daily_revenue",
    oracle=f"""
with {_DAILY_GRID_SQL},
agg as (select cast(count(*) as bigint) as n, sum(x) as sx,
               sum(x * x) as sxx from x),
lags as (select cast(unnest(generate_series(1, 7)) as bigint) as k),
pair as (
  select l.k,
         sum(h.x * t.x) as sxy,
         sum(h.x) as sh,
         sum(t.x) as st
  from lags l
  join x h on true
  join x t on t.i = h.i + l.k
  group by l.k
)
select k,
  round((cast(n as double) * cast(n as double) * cast(sxy as double)
         - cast(n as double) * cast(sx as double)
           * (cast(sh as double) + cast(st as double))
         + (cast(n as double) - cast(k as double))
           * cast(sx as double) * cast(sx as double))
        / (cast(n as double) * cast(n as double) * cast(sxx as double)
           - cast(n as double) * cast(sx as double) * cast(sx as double)),
        6) as acf
from pair cross join agg
order by k
""",
)
def q_acf_daily_revenue(spark, sf_dir):
    """Autocorrelation function of daily revenue at lags 1–7 — the
    seasonality detector (weekly cycle strength) behind forecast-model
    selection. Computed on the gapless calendar grid (missing days are
    true zeros, so lags measure CALENDAR displacement, not row
    displacement): r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x_t−x̄)², expanded to
    exact decimal sufficient statistics (Σx, Σx², Σx_t·x_{t+k}, and
    the head/tail sums the mean-correction needs) so the only doubles
    are one identically-parenthesized expression per lag (the gini
    discipline ×n²: n²Σxy − nΣx(Σh+Σt) + (n−k)(Σx)² over
    n²Σx² − n(Σx)²). Lag alignment is a ×7 bounded fan-out join on
    the grid index — never a global window. The grid is calendar-
    bounded (~2400 rows at any SF), so past the first groupBy the
    whole query is constant-size."""
    x = _daily_revenue_grid(spark, sf_dir).persist()
    agg = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("k"))
    t = x.select(F.col("i").alias("j"), F.col("x").alias("xt"))
    pair = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("j", F.col("i") + F.col("k"))
        .join(t, "j")
        .groupBy("k")
        .agg(
            F.sum(F.col("x") * F.col("xt")).alias("sxy"),
            F.sum("x").alias("sh"),
            F.sum("xt").alias("st"),
        )
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    k_d = F.col("k").cast("double")
    num = (
        n_d * n_d * F.col("sxy").cast("double")
        - n_d * sx_d * (F.col("sh").cast("double") + F.col("st").cast("double"))
        + (n_d - k_d) * sx_d * sx_d
    )
    den = n_d * n_d * sxx_d - n_d * sx_d * sx_d
    return _finish_then_unpersist(
        pair.crossJoin(F.broadcast(agg))
        .select("k", F.round(num / den, 6).alias("acf"))
        .orderBy("k"),
        x,
    )


@register(
    "cusum_changepoint_revenue",
    oracle=f"""
with {_DAILY_GRID_SQL},
agg as (select cast(count(*) as bigint) as n, sum(x) as sx from x),
c as (
  select day,
         cast(row_number() over (order by i) as bigint) as t,
         sum(x) over (order by i
                      rows between unbounded preceding and current row)
           as pfx
  from x
)
select strftime(day, '%Y-%m-%d') as change_day,
       round(abs(cast(n as double) * cast(pfx as double)
                 - cast(t as double) * cast(sx as double))
             / cast(n as double), 2) as cusum_peak,
       case when cast(n as double) * cast(pfx as double)
                 - cast(t as double) * cast(sx as double) > 0
            then 'above' else 'below' end as direction
from c cross join agg
order by abs(cast(n as double) * cast(pfx as double)
             - cast(t as double) * cast(sx as double)) desc, day asc
limit 1
""",
)
def q_cusum_changepoint_revenue(spark, sf_dir):
    """CUSUM change-point detection on daily revenue: the day where
    the cumulative deviation from the global mean peaks — the
    classic single-change-point estimator (Page's CUSUM / Taylor's
    bootstrap form) behind regime-shift alerts. S_t = Σ_{i≤t}(x_i−x̄)
    is computed EXACTLY as n·prefix_t − t·Σx (integer×decimal — no
    per-row mean subtraction, no float accumulation); the argmax of
    |S_t| with earliest-day tiebreak is the estimated change point
    and max|S_t| the effect size. Runs on the calendar-bounded daily
    grid (the _daily_revenue_grid contract: one groupBy over facts,
    then a ~2400-row frame), prefix sums included — at 100 TB the
    change-point scan costs the same as at sf0.001."""
    x = _daily_revenue_grid(spark, sf_dir)
    agg = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("sx")
    )
    w = Window.orderBy("i")
    c = x.select(
        "day",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    dev = F.col("n").cast("double") * F.col("pfx").cast("double") - F.col(
        "t"
    ).cast("double") * F.col("sx").cast("double")
    return (
        c.crossJoin(F.broadcast(agg))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.round(F.abs(dev) / F.col("n").cast("double"), 2).alias("cusum_peak"),
            F.when(dev > 0, "above").otherwise("below").alias("direction"),
            F.abs(dev).alias("__a"),
        )
        .orderBy(F.col("__a").desc(), F.col("change_day").asc())
        .limit(1)
        .drop("__a")
    )


@register(
    "copurchase_user_jaccard",
    oracle="""
with cp as (
  select distinct o_custkey as u, l_partkey as p
  from lineitem join orders on l_orderkey = o_orderkey
),
sz as (select u, cast(count(*) as bigint) as nu from cp group by u),
pf as (select p, cast(count(*) as bigint) as df from cp group by p),
pairs as (
  select distinct a.u as u1, b.u as u2
  from cp a
  join cp b on a.p = b.p and a.u < b.u
  join pf on pf.p = a.p
  where pf.df <= 25
),
inter as (
  select pr.u1, pr.u2, cast(count(*) as bigint) as inter
  from pairs pr
  join cp xa on xa.u = pr.u1
  join cp xb on xb.u = pr.u2 and xb.p = xa.p
  group by pr.u1, pr.u2
)
select i.u1, i.u2, i.inter,
       round(cast(i.inter as double)
             / (cast(s1.nu as double) + cast(s2.nu as double)
                - cast(i.inter as double)), 6) as jaccard
from inter i
join sz s1 on s1.u = i.u1
join sz s2 on s2.u = i.u2
order by jaccard desc, i.u1, i.u2
limit 20
""",
)
def q_copurchase_user_jaccard(spark, sf_dir):
    """User–user collaborative-filtering similarity: top-20 customer
    pairs by Jaccard over their purchased part sets — the neighbor
    search behind item/user-based recommenders, shaped exactly like
    the dedup ladder's candidate-then-verify contract: candidate
    pairs meet ONLY through parts with document frequency ≤ 25 (the
    df-cap blocking policy of ngram_jaccard_pairs — hub parts bought
    by everyone generate O(df²) candidates and near-zero similarity
    signal, so they are excluded from candidate GENERATION), then the
    intersection is verified EXACTLY over the full unblocked sets
    (blocking trades recall only, never precision — the reported
    Jaccard is the true one). Verify shape: per-user part sets as
    sorted arrays (bounded by a user's purchase history — ~10² here,
    the same per-entity bound as basket_lift_pairs' basket fan-out),
    one shuffle join of the candidate-pair stream against that table,
    and an `array_intersect` size per pair computed JVM-side. The
    first cut instead RE-JOINED the pair stream against the full
    (u, p) rows and counted matches — exploding each pair into its
    |set| rows (candidates × avg-set ≈ 40M intermediate rows, 22 s at
    sf0.1); moving each set once per pair cut it to 7.0 s exec at
    sf0.1 / 10.7 s at ×30 (×1.5 wall for ×30 data — PERF.md round-11
    growth table). All counts int64, one double division per
    survivor, (u1, u2) tiebreak. At 100 TB: candidate volume is
    Σ_p df_p² bounded by cap·Σdf, and the verify join moves only
    candidate users' sets."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cp = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sets = cp.groupBy("u").agg(
        F.sort_array(F.collect_set("p")).alias("ps"),
        F.count(F.lit(1)).cast("long").alias("nu"),
    )
    pf = cp.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("df"))
    capped = cp.join(pf.filter(F.col("df") <= 25), "p")
    # candidate pairs via ONE aggregate + JVM-side expansion instead of
    # the part-keyed self-join (optimization r14, second segment — the
    # _blocked_overlap_counts shape): each capped part's sorted user
    # set (≤ 25 by the df cap applied BEFORE the aggregate, so
    # aggregation buffers stay bounded) expands to its C(df,2) pairs
    # in one pass — one shuffle of the capped stream instead of two
    # join sides + the same pair volume. Interleaved medians at sf0.1:
    # 3.6 -> 2.3 s, top-20 bit-equal.
    by_p = (
        capped.groupBy("p")
        .agg(F.sort_array(F.collect_set("u")).alias("us"))
        .filter(F.size("us") >= 2)
    )
    pairs = (
        by_p.select(
            F.explode(
                F.expr(
                    "flatten(transform(us, (a, i) -> "
                    "transform(slice(us, i + 2, size(us) - i - 1), "
                    "b -> struct(a, b))))"
                )
            ).alias("q")
        )
        .select(F.col("q.a").alias("u1"), F.col("q.b").alias("u2"))
        .distinct()
    )
    s1 = sets.select(
        F.col("u").alias("u1"), F.col("ps").alias("ps1"), F.col("nu").alias("n1")
    )
    s2 = sets.select(
        F.col("u").alias("u2"), F.col("ps").alias("ps2"), F.col("nu").alias("n2")
    )
    inter = F.size(F.array_intersect("ps1", "ps2")).cast("long")
    return (
        pairs.join(s1, "u1")
        .join(s2, "u2")
        .select(
            "u1",
            "u2",
            inter.alias("inter"),
            F.round(
                inter.cast("double")
                / (
                    F.col("n1").cast("double")
                    + F.col("n2").cast("double")
                    - inter.cast("double")
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "u1", "u2")
        .limit(20)
    )


@register(
    "seasonal_naive_backtest",
    oracle=f"""
with {_DAILY_GRID_SQL},
m as (select max(i) as mi from x),
e as (
  select h.x as actual, f.x as fc,
         abs(h.x - f.x) as err
  from x h
  join x f on f.i = h.i - 7
  cross join m
  where h.i > m.mi - 28
),
agg as (
  select cast(count(*) as bigint) as n_days,
         sum(err) as serr,
         sum(actual) as sact,
         sum(cast(round(case when actual + fc > 0
                    then 2.0 * cast(err as double)
                         / (cast(actual as double) + cast(fc as double))
                    else 0.0 end, 6) as decimal(18,6))) as ssm
  from e
)
select n_days,
       round(cast(serr as double) / cast(n_days as double), 2) as mae,
       round(cast(serr as double) / cast(sact as double), 6) as wape,
       round(cast(ssm as double) / cast(n_days as double), 6) as smape
from agg
""",
)
def q_seasonal_naive_backtest(spark, sf_dir):
    """Forecast backtest: seasonal-naive x̂_t = x_{t−7} (the weekly-
    cycle baseline every forecasting bake-off starts from) evaluated
    over the final 28 days of the daily-revenue grid, reporting MAE,
    WAPE and SMAPE — the accuracy floor a real model must beat.
    Error sums are exact decimals (|x−x̂| in decimal(14,2)); SMAPE's
    per-row ratio is one double division of exactly-converted
    decimals, rounded to 6dp, then re-summed as decimal(18,6) so the
    cross-partition accumulation is order-free (the house rule for
    per-row ratios). The forecast join is a lag-7 index join on the
    calendar grid — constant-size at any SF (the _daily_revenue_grid
    contract), so the backtest costs one facts groupBy plus O(days)."""
    x = _daily_revenue_grid(spark, sf_dir).persist()
    m = x.agg(F.max("i").alias("mi"))
    f = x.select((F.col("i") + 7).alias("i"), F.col("x").alias("fc"))
    e = (
        x.join(f, "i")
        .crossJoin(F.broadcast(m))
        .filter(F.col("i") > F.col("mi") - 28)
        .select(
            F.col("x").alias("actual"),
            "fc",
            F.abs(F.col("x") - F.col("fc")).alias("err"),
        )
    )
    ratio = F.when(
        (F.col("actual") + F.col("fc")) > 0,
        F.lit(2.0)
        * F.col("err").cast("double")
        / (F.col("actual").cast("double") + F.col("fc").cast("double")),
    ).otherwise(F.lit(0.0))
    agg = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("err").alias("serr"),
        F.sum("actual").alias("sact"),
        F.sum(F.round(ratio, 6).cast("decimal(18,6)")).alias("ssm"),
    )
    nd = F.col("n_days").cast("double")
    return _finish_then_unpersist(
        agg.select(
            "n_days",
            F.round(F.col("serr").cast("double") / nd, 2).alias("mae"),
            F.round(
                F.col("serr").cast("double") / F.col("sact").cast("double"), 6
            ).alias("wape"),
            F.round(F.col("ssm").cast("double") / nd, 6).alias("smape"),
        ),
        x,
    )


@register(
    "infogain_discount_split",
    oracle="""
with per as (
  select l_discount as d,
         cast(count(*) as bigint) as nd,
         cast(sum(case when l_returnflag = 'R' then 1 else 0 end)
              as bigint) as pd
  from lineitem group by l_discount
),
c as (
  select d,
         cast(sum(nd) over (order by d asc
                            rows between unbounded preceding and current row)
              as bigint) as cn,
         cast(sum(pd) over (order by d asc
                            rows between unbounded preceding and current row)
              as bigint) as cp
  from per
),
t as (select cast(sum(nd) as bigint) as nn,
             cast(sum(pd) as bigint) as pp from per)
select round(d, 2) as threshold,
       cn as n_left, cp as pos_left,
       round(
         (case when pp = 0 or pp = nn then 0.0 else
           -(cast(pp as double) / nn) * ln(cast(pp as double) / nn)
           - (cast(nn - pp as double) / nn) * ln(cast(nn - pp as double) / nn)
          end)
         - (cast(cn as double) / nn)
           * (case when cp = 0 or cp = cn then 0.0 else
               -(cast(cp as double) / cn) * ln(cast(cp as double) / cn)
               - (cast(cn - cp as double) / cn)
                 * ln(cast(cn - cp as double) / cn)
              end)
         - (cast(nn - cn as double) / nn)
           * (case when pp - cp = 0 or pp - cp = nn - cn then 0.0 else
               -(cast(pp - cp as double) / (nn - cn))
                 * ln(cast(pp - cp as double) / (nn - cn))
               - (cast((nn - cn) - (pp - cp) as double) / (nn - cn))
                 * ln(cast((nn - cn) - (pp - cp) as double) / (nn - cn))
              end), 6) as gain
from c cross join t
where cn < nn
order by threshold
""",
)
def q_infogain_discount_split(spark, sf_dir):
    """Decision-stump split finding: information gain of every
    candidate threshold "l_discount ≤ d" predicting returned lines
    (l_returnflag = 'R') — the inner loop of tree building and the
    standard feature-screening statistic for training-data pipelines.
    One groupBy collapses the facts to the (value → count, positives)
    histogram (l_discount's domain is 11 points — NDV-bounded like
    the KS statistic), cumulative left-partition counts come from a
    window over that histogram, and the gain H(parent) − Σw·H(child)
    is computed per candidate from EXACT int64 counts in a single
    guarded double expression (0·ln0 := 0; identical shape in both
    engines, rounded to 6dp — the bm25 ln() parity precedent).
    Returns the full candidate table ordered by threshold; the best
    split is its argmax row. At 100 TB the histogram pass is the only
    full-data op — the split search is O(NDV)."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_discount").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("pd"),
    )
    w = Window.orderBy(F.col("d").asc()).rowsBetween(Window.unboundedPreceding, 0)
    c = per.select(
        "d",
        F.sum("nd").over(w).cast("long").alias("cn"),
        F.sum("pd").over(w).cast("long").alias("cp"),
    )
    t = per.agg(
        F.sum("nd").cast("long").alias("nn"), F.sum("pd").cast("long").alias("pp")
    )

    def _h(pos, tot):
        p = pos.cast("double") / tot
        q = (tot - pos).cast("double") / tot
        return F.when((pos == 0) | (pos == tot), F.lit(0.0)).otherwise(
            -p * F.log(p) - q * F.log(q)
        )

    nn = F.col("nn")
    pp = F.col("pp")
    cn = F.col("cn")
    cp = F.col("cp")
    gain = (
        _h(pp, nn.cast("double"))
        - (cn.cast("double") / nn.cast("double")) * _h(cp, cn.cast("double"))
        - ((nn - cn).cast("double") / nn.cast("double"))
        * _h(pp - cp, (nn - cn).cast("double"))
    )
    return (
        c.crossJoin(F.broadcast(t))
        .filter(cn < nn)
        .select(
            F.round("d", 2).alias("threshold"),
            cn.alias("n_left"),
            cp.alias("pos_left"),
            F.round(gain, 6).alias("gain"),
        )
        .orderBy("threshold")
    )


@register(
    "mann_whitney_value_test",
    oracle="""
with pool as (
  select value,
         cast(count(*) as bigint) as n,
         cast(sum(case when event_type = 'purchase' then 1 else 0 end)
              as bigint) as c1
  from events
  where event_type in ('purchase', 'click')
  group by value
),
rk as (
  select value, n, c1,
         2 * (coalesce(sum(n) over (order by value asc
                rows between unbounded preceding and 1 preceding), 0) + 1)
           + n - 1 as r2
  from pool
),
agg as (
  select cast(sum(c1) as bigint) as n1,
         cast(sum(n - c1) as bigint) as n2,
         cast(sum(n) as bigint) as nn,
         cast(sum(c1 * r2) as bigint) as r1x2,
         cast(sum(n * n * n - n) as bigint) as ties
  from rk
)
select n1, n2,
       (r1x2 - n1 * (n1 + 1)) // 2 as u1,
       round((cast(r1x2 - n1 * (n1 + 1) as double) / 2.0
              - cast(n1 as double) * cast(n2 as double) / 2.0)
             / sqrt(cast(n1 as double) * cast(n2 as double) / 12.0
                    * (cast(nn as double) + 1.0
                       - cast(ties as double)
                         / (cast(nn as double)
                            * (cast(nn as double) - 1.0)))), 6) as z
from agg
""",
)
def q_mann_whitney_value_test(spark, sf_dir):
    """Mann–Whitney U (Wilcoxon rank-sum) test between the purchase
    and click value distributions — the nonparametric location test
    (robust A/B readout when values are heavy-tailed and a t-test's
    mean is fragile). Rides operators/ranks.py:scaled_avg_rank_by_value
    exactly as its docstring advertises: the corpus contributes ONE
    map-side-combined histogram; ×2-scaled average ranks keep ties
    integer, so the rank sum R1, U = R1 − n1(n1+1)/2, and the tie
    correction Σ(t³−t) are all EXACT int64 — the only doubles are the
    final z-score expression (normal approximation with tie-corrected
    variance), identically parenthesized in both engines. At 100 TB
    everything after the groupBy runs at NDV(value) altitude."""
    from .operators.ranks import scaled_avg_rank_by_value

    ev = load_table(spark, sf_dir, "events")
    both = ev.filter(F.col("event_type").isin("purchase", "click"))
    rk = scaled_avg_rank_by_value(both.select("value"), "value")
    c1 = (
        both.filter(F.col("event_type") == "purchase")
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    j = rk.join(c1, "value", "left").withColumn(
        "c1", F.coalesce("c1", F.lit(0).cast("long"))
    )
    agg = j.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("n") - F.col("c1")).cast("long").alias("n2"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("c1") * F.col("r2")).cast("long").alias("r1x2"),
        F.sum(F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        .cast("long")
        .alias("ties"),
    )
    n1_d = F.col("n1").cast("double")
    n2_d = F.col("n2").cast("double")
    nn_d = F.col("nn").cast("double")
    u1_2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    sigma = F.sqrt(
        n1_d * n2_d / F.lit(12.0)
        * (nn_d + F.lit(1.0) - F.col("ties").cast("double") / (nn_d * (nn_d - 1.0)))
    )
    # u1_2 = 2·U1 can be ODD (U1 half-integer when group 1 holds an odd
    # count of members of even tie groups); double-halving then casts an
    # exact x.5 — Spark truncates, DuckDB rounds half-to-even → off-by-one
    # hazard (r11 advisor). Integer `div`/`//` floors identically on the
    # nonnegative operand in both engines, so the halving stays integral.
    return agg.select(
        "n1",
        "n2",
        F.expr("(r1x2 - n1 * (n1 + 1)) div 2").cast("long").alias("u1"),
        F.round((u1_2.cast("double") / 2.0 - n1_d * n2_d / 2.0) / sigma, 6).alias(
            "z"
        ),
    )


@register(
    "welch_t_value_test",
    oracle="""
with a as (
  select
    cast(sum(case when event_type = 'purchase' then 1 else 0 end)
         as bigint) as n1,
    cast(sum(case when event_type = 'click' then 1 else 0 end)
         as bigint) as n2,
    sum(case when event_type = 'purchase'
             then cast(value as decimal(12,2)) else cast(0 as decimal(12,2))
        end) as s1,
    sum(case when event_type = 'click'
             then cast(value as decimal(12,2)) else cast(0 as decimal(12,2))
        end) as s2,
    sum(case when event_type = 'purchase'
             then cast(value as decimal(12,2)) * cast(value as decimal(12,2))
             else cast(0 as decimal(24,4)) end) as q1,
    sum(case when event_type = 'click'
             then cast(value as decimal(12,2)) * cast(value as decimal(12,2))
             else cast(0 as decimal(24,4)) end) as q2
  from events where event_type in ('purchase', 'click')
)
select n1, n2,
  round(cast(s1 as double) / cast(n1 as double)
        - cast(s2 as double) / cast(n2 as double), 4) as mean_diff,
  round((cast(s1 as double) / cast(n1 as double)
         - cast(s2 as double) / cast(n2 as double))
        / sqrt(((cast(q1 as double)
                 - cast(s1 as double) * cast(s1 as double) / cast(n1 as double))
                / (cast(n1 as double) - 1.0)) / cast(n1 as double)
               + ((cast(q2 as double)
                   - cast(s2 as double) * cast(s2 as double) / cast(n2 as double))
                  / (cast(n2 as double) - 1.0)) / cast(n2 as double)), 6) as t,
  round(
    (((cast(q1 as double)
       - cast(s1 as double) * cast(s1 as double) / cast(n1 as double))
      / (cast(n1 as double) - 1.0)) / cast(n1 as double)
     + ((cast(q2 as double)
         - cast(s2 as double) * cast(s2 as double) / cast(n2 as double))
        / (cast(n2 as double) - 1.0)) / cast(n2 as double))
    * (((cast(q1 as double)
         - cast(s1 as double) * cast(s1 as double) / cast(n1 as double))
        / (cast(n1 as double) - 1.0)) / cast(n1 as double)
       + ((cast(q2 as double)
           - cast(s2 as double) * cast(s2 as double) / cast(n2 as double))
          / (cast(n2 as double) - 1.0)) / cast(n2 as double))
    / ((((cast(q1 as double)
          - cast(s1 as double) * cast(s1 as double) / cast(n1 as double))
         / (cast(n1 as double) - 1.0)) / cast(n1 as double))
       * (((cast(q1 as double)
            - cast(s1 as double) * cast(s1 as double) / cast(n1 as double))
           / (cast(n1 as double) - 1.0)) / cast(n1 as double))
       / (cast(n1 as double) - 1.0)
       + (((cast(q2 as double)
            - cast(s2 as double) * cast(s2 as double) / cast(n2 as double))
           / (cast(n2 as double) - 1.0)) / cast(n2 as double))
         * (((cast(q2 as double)
              - cast(s2 as double) * cast(s2 as double) / cast(n2 as double))
             / (cast(n2 as double) - 1.0)) / cast(n2 as double))
         / (cast(n2 as double) - 1.0)), 4) as df_welch
from a
""",
)
def q_welch_t_value_test(spark, sf_dir):
    """Welch's unequal-variance t-test between purchase and click
    values — the parametric companion of mann_whitney_value_test,
    from the SAME single-pass sufficient statistics discipline as
    ols_value_trend: one conditional aggregate yields both groups'
    (n, Σy, Σy²) exactly (decimal sums), then t and the Welch–
    Satterthwaite degrees of freedom are one identically-
    parenthesized double expression per output. The standard-error
    terms v_i = s_i²/n_i are written out longhand in both engines so
    the expression trees match bit-for-bit before rounding. At 100 TB
    this is a single map-side-combinable aggregate — the cheapest
    possible two-sample test."""
    ev = load_table(spark, sf_dir, "events")
    y = F.col("value").cast("decimal(12,2)")
    z0 = F.lit(0).cast("decimal(12,2)")
    z04 = F.lit(0).cast("decimal(24,4)")
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "click"
    a = ev.filter(F.col("event_type").isin("purchase", "click")).agg(
        F.sum(F.when(is1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(is2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(is1, y).otherwise(z0)).alias("s1"),
        F.sum(F.when(is2, y).otherwise(z0)).alias("s2"),
        F.sum(F.when(is1, y * y).otherwise(z04)).alias("q1"),
        F.sum(F.when(is2, y * y).otherwise(z04)).alias("q2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    q1 = F.col("q1").cast("double")
    q2 = F.col("q2").cast("double")
    v1 = ((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1
    v2 = ((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2
    md = s1 / n1 - s2 / n2
    return a.select(
        "n1",
        "n2",
        F.round(md, 4).alias("mean_diff"),
        F.round(md / F.sqrt(v1 + v2), 6).alias("t"),
        F.round(
            (v1 + v2) * (v1 + v2) / (v1 * v1 / (n1 - 1.0) + v2 * v2 / (n2 - 1.0)),
            4,
        ).alias("df_welch"),
    )


@register(
    "cuped_variance_reduction",
    oracle="""
with per_user as (
  select user_id,
         sum(case when cast(ts as date) < date '2024-01-16'
                  then cast(value as decimal(12,2))
                  else cast(0 as decimal(12,2)) end) as x,
         sum(case when cast(ts as date) >= date '2024-01-16'
                  then cast(value as decimal(12,2))
                  else cast(0 as decimal(12,2)) end) as y
  from events group by user_id
),
a as (
  select cast(count(*) as bigint) as n,
         sum(x) as sx, sum(y) as sy,
         sum(x * y) as sxy, sum(x * x) as sxx, sum(y * y) as syy
  from per_user
)
select n,
  round((cast(n as double) * cast(sxy as double)
         - cast(sx as double) * cast(sy as double))
        / (cast(n as double) * cast(sxx as double)
           - cast(sx as double) * cast(sx as double)), 6) as theta,
  round((cast(n as double) * cast(sxy as double)
         - cast(sx as double) * cast(sy as double))
        * (cast(n as double) * cast(sxy as double)
           - cast(sx as double) * cast(sy as double))
        / ((cast(n as double) * cast(sxx as double)
            - cast(sx as double) * cast(sx as double))
           * (cast(n as double) * cast(syy as double)
              - cast(sy as double) * cast(sy as double))), 6) as rho2,
  round((cast(n as double) * cast(syy as double)
         - cast(sy as double) * cast(sy as double))
        / (cast(n as double) * (cast(n as double) - 1.0)), 4) as var_y,
  round(((cast(n as double) * cast(syy as double)
          - cast(sy as double) * cast(sy as double))
         / (cast(n as double) * (cast(n as double) - 1.0)))
        * (1.0
           - (cast(n as double) * cast(sxy as double)
              - cast(sx as double) * cast(sy as double))
             * (cast(n as double) * cast(sxy as double)
                - cast(sx as double) * cast(sy as double))
             / ((cast(n as double) * cast(sxx as double)
                 - cast(sx as double) * cast(sx as double))
                * (cast(n as double) * cast(syy as double)
                   - cast(sy as double) * cast(sy as double)))), 4)
    as var_y_cuped
from a
""",
)
def q_cuped_variance_reduction(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Existing Data, Deng et
    al. WSDM'13) variance reduction: split each user's event value
    into a pre-period covariate x (days 1–15) and the experiment
    metric y (days 16–30), estimate θ = cov(x,y)/var(x) and report
    the achievable variance reduction var(y)·(1−ρ²) — the
    power-analysis primitive behind every modern A/B platform. One
    groupBy(user) builds both periods' exact decimal sums in a single
    conditional aggregate; the five cross-moments then collapse to
    one scalar row, and θ/ρ²/variances are identically-parenthesized
    double expressions (the ols_value_trend discipline). At 100 TB:
    one user-keyed exchange, constant state after it."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(12,2)")
    z0 = F.lit(0).cast("decimal(12,2)")
    pre = F.to_date("ts") < F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, v).otherwise(z0)).alias("x"),
        F.sum(F.when(~pre, v).otherwise(z0)).alias("y"),
    )
    a = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    var_y = vary_n / (n * (n - 1.0))
    rho2 = cov_n * cov_n / (varx_n * vary_n)
    return a.select(
        "n",
        F.round(cov_n / varx_n, 6).alias("theta"),
        F.round(rho2, 6).alias("rho2"),
        F.round(var_y, 4).alias("var_y"),
        F.round(var_y * (1.0 - rho2), 4).alias("var_y_cuped"),
    )


@register(
    "segmented_trend_at_changepoint",
    oracle=f"""
with {_DAILY_GRID_SQL},
agg as (select cast(count(*) as bigint) as n, sum(x) as sx from x),
c as (
  select i, day,
         cast(row_number() over (order by i) as bigint) as t,
         sum(x) over (order by i
                      rows between unbounded preceding and current row)
           as pfx
  from x
),
cp as (
  select i as istar
  from c cross join agg
  order by abs(cast(n as double) * cast(pfx as double)
               - cast(t as double) * cast(sx as double)) desc, day asc
  limit 1
),
seg as (
  select case when x.i <= cp.istar then 'before' else 'after' end as segment,
         x.i, x.x
  from x cross join cp
),
s as (
  select segment,
         cast(count(*) as bigint) as n,
         sum(i) as si,
         sum(i * i) as sii,
         sum(x) as sx2,
         sum(cast(i as decimal(10,0)) * x) as six
  from seg group by segment
)
select segment, n,
  round((cast(n as double) * cast(six as double)
         - cast(si as double) * cast(sx2 as double))
        / (cast(n as double) * cast(sii as double)
           - cast(si as double) * cast(si as double)), 4) as slope
from s order by segment
""",
)
def q_segmented_trend_at_changepoint(spark, sf_dir):
    """Segmented (piecewise-linear) trend: locate the CUSUM
    change-point of daily revenue (the cusum_changepoint_revenue
    estimator), then fit an independent OLS slope on each side — the
    before/after trend readout behind "did the regime actually
    change" dashboards, composing two of the round's primitives. The
    change point is a scalar derived on the calendar-bounded grid
    (argmax |n·prefix − t·Σx|, earliest-day tiebreak, exactly the
    CUSUM query's plan); segment slopes use the ols_value_trend
    sufficient-statistics form with exact decimal Σi·x. Everything
    after the facts groupBy is constant-size; the change point joins
    back as a broadcast scalar, never a re-scan."""
    x = _daily_revenue_grid(spark, sf_dir).persist()
    agg = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("sx")
    )
    w = Window.orderBy("i")
    c = x.select(
        "i",
        "day",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    dev = F.col("n").cast("double") * F.col("pfx").cast("double") - F.col(
        "t"
    ).cast("double") * F.col("sx").cast("double")
    cp = (
        c.crossJoin(F.broadcast(agg))
        .orderBy(F.abs(dev).desc(), F.col("day").asc())
        .limit(1)
        .select(F.col("i").alias("istar"))
    )
    seg = x.crossJoin(F.broadcast(cp)).select(
        F.when(F.col("i") <= F.col("istar"), "before")
        .otherwise("after")
        .alias("segment"),
        "i",
        "x",
    )
    s = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i").alias("si"),
        F.sum(F.col("i") * F.col("i")).alias("sii"),
        F.sum("x").alias("sx2"),
        F.sum(F.col("i").cast("decimal(10,0)") * F.col("x")).alias("six"),
    )
    n = F.col("n").cast("double")
    return _finish_then_unpersist(
        s.select(
            "segment",
            "n",
            F.round(
                (n * F.col("six").cast("double")
                 - F.col("si").cast("double") * F.col("sx2").cast("double"))
                / (n * F.col("sii").cast("double")
                   - F.col("si").cast("double") * F.col("si").cast("double")),
                4,
            ).alias("slope"),
        ).orderBy("segment"),
        x,
    )


@register(
    "bootstrap_ci_mean",
    oracle="""
with reps as (select unnest(generate_series(0, 63)) as b),
w as (
  select r.b,
         cast(o_totalprice as decimal(14,2)) as x,
         (case
            when u <= 0.36787944117144233 then 0
            when u <= 0.7357588823428847 then 1
            when u <= 0.9196986029286058 then 2
            when u <= 0.9810118431238463 then 3
            when u <= 0.9963401531726563 then 4
            when u <= 0.9994058151824183 then 5
            when u <= 0.999916758850712 then 6
            else 7 end) as w
  from orders
  cross join reps r
  cross join lateral (
    select cast(cast(concat('0x', substr(md5(cast(o_orderkey as varchar)
                 || ':bs' || cast(r.b as varchar)), 1, 7)) as bigint) + 1
                as double) / 268435457.0 as u
  ) h
),
m as (
  select b,
         cast(sum(w * x) as double) / cast(sum(w) as bigint) as mean_b
  from w group by b
),
rk as (
  select mean_b,
         row_number() over (order by mean_b asc, b asc) as rn
  from m
),
pt as (
  select cast(count(*) as bigint) as n_orders,
         cast(sum(cast(o_totalprice as decimal(14,2))) as double) / count(*)
           as point_mean
  from orders
)
select n_orders,
       round(point_mean, 4) as point_mean,
       round((select mean_b from rk where rn = 2), 4) as ci_lo,
       round((select mean_b from rk where rn = 63), 4) as ci_hi,
       cast(64 as bigint) as b_reps
from pt
""",
)
def q_bootstrap_ci_mean(spark, sf_dir):
    """Distributed Poisson bootstrap (Chamandy et al., "Estimating
    uncertainty for massive data streams" — the production bootstrap
    for data too large to resample by index): each of B=64 replicates
    re-weights every order by a DETERMINISTIC Poisson(1) draw (inverse
    CDF over a portable md5-derived uniform — the weighted_sample_docs
    hash discipline, so both engines build the identical replicate),
    and the 2.5%/97.5% replicate-mean ranks (2nd and 63rd of 64, by
    (mean, b)) bound the CI of the mean. Shape: one ×64 bounded
    fan-out (the multiplier IS the resample — no shuffling of row
    indices, the whole point of the Poisson form), 64-group partial
    aggregate with exact decimal Σw·x, a 64-row rank window, and one
    scalar join. The base is REPARTITIONED to the shuffle width
    before the fan-out (the build_sf1 lesson: a small single-file
    source otherwise serializes the ×64 expansion + md5 work into
    one task — measured 13.3 s → 1.0 s exec at sf0.1). At 100 TB:
    B scans' worth of map work, state is 64 rows — embarrassingly
    parallel."""
    width = shuffle_width(spark)
    orders = load_table(spark, sf_dir, "orders").repartition(width)
    reps = spark.range(64).select(F.col("id").cast("int").alias("b"))
    h7 = F.substring(
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":bs"),
                F.col("b").cast("string"),
            )
        ),
        1,
        7,
    )
    u = (F.conv(h7, 16, 10).cast("bigint") + 1).cast("double") / F.lit(268435457.0)
    w = (
        F.when(u <= 0.36787944117144233, 0)
        .when(u <= 0.7357588823428847, 1)
        .when(u <= 0.9196986029286058, 2)
        .when(u <= 0.9810118431238463, 3)
        .when(u <= 0.9963401531726563, 4)
        .when(u <= 0.9994058151824183, 5)
        .when(u <= 0.999916758850712, 6)
        .otherwise(7)
    )
    x = F.col("o_totalprice").cast("decimal(14,2)")
    m = (
        orders.crossJoin(F.broadcast(reps))
        .select("b", x.alias("x"), w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("x")).cast("double")
                / F.sum("w").cast("long")
            ).alias("mean_b")
        )
    )
    rk = m.select(
        "mean_b",
        F.row_number()
        .over(Window.orderBy(F.col("mean_b").asc(), F.col("b").asc()))
        .alias("rn"),
    )
    lo = rk.filter(F.col("rn") == 2).select(F.col("mean_b").alias("lo"))
    hi = rk.filter(F.col("rn") == 63).select(F.col("mean_b").alias("hi"))
    pt = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean"),
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_orders",
            F.round("point_mean", 4).alias("point_mean"),
            F.round("lo", 4).alias("ci_lo"),
            F.round("hi", 4).alias("ci_hi"),
            F.lit(64).cast("long").alias("b_reps"),
        )
    )


@register(
    "permutation_test_mean_diff",
    oracle="""
with base as (
  select event_id,
         cast(value as decimal(12,2)) as x,
         case when event_type = 'purchase' then 1 else 0 end as g
  from events where event_type in ('purchase', 'click')
),
tot as (
  select cast(count(*) as bigint) as n,
         cast(sum(g) as bigint) as n1,
         sum(case when g = 1 then x else cast(0 as decimal(12,2)) end) as s1,
         sum(case when g = 0 then x else cast(0 as decimal(12,2)) end) as s2
  from base
),
obs as (
  select n, n1,
         cast(s1 as double) / cast(n1 as double)
           - cast(s2 as double) / cast(n - n1 as double) as d
  from tot
),
reps as (select unnest(generate_series(0, 63)) as p),
perm as (
  select r.p,
         case when cast(cast(concat('0x', substr(md5(cast(b.event_id as varchar)
                   || ':pm' || cast(r.p as varchar)), 1, 7)) as bigint) + 1
                   as double) / 268435457.0
              <= cast(t.n1 as double) / cast(t.n as double)
              then 1 else 0 end as pg,
         b.x
  from base b cross join reps r cross join tot t
),
pd as (
  select p,
         cast(sum(case when pg = 1 then x else cast(0 as decimal(12,2)) end)
              as double)
           / cast(sum(pg) as bigint)
         - cast(sum(case when pg = 0 then x else cast(0 as decimal(12,2)) end)
                as double)
           / cast(sum(1 - pg) as bigint) as d_p
  from perm group by p
)
select o.n1,
       cast(o.n - o.n1 as bigint) as n2,
       round(o.d, 4) as obs_diff,
       cast(sum(case when abs(pd.d_p) >= abs(o.d) then 1 else 0 end)
            as bigint) as n_extreme,
       round((1.0 + sum(case when abs(pd.d_p) >= abs(o.d)
                             then 1 else 0 end)) / 65.0, 4) as p_value
from pd cross join obs o
group by o.n1, o.n, o.d
""",
)
def q_permutation_test_mean_diff(spark, sf_dir):
    """Randomization (permutation-style) test for the purchase-vs-
    click mean-value difference: 64 deterministic pseudo-relabelings
    (each row re-assigned to a group by a portable md5 uniform against
    the observed group fraction — the hash discipline of
    weighted_sample_docs, so both engines build identical relabelings)
    re-compute the mean difference under the null, and the add-one
    p-value (1+#extreme)/(B+1) reads how extreme the observed
    difference is. The distribution-free companion to
    welch_t_value_test / mann_whitney_value_test — no normality, no
    rank theory, just the null by construction. Shape: one ×64
    bounded fan-out over the two groups' rows (base repartitioned to
    the shuffle width first — same single-task-expansion fix as
    bootstrap_ci_mean), a 64-group exact-decimal aggregate, one
    scalar comparison pass. At 100 TB: B map passes, 64 rows of
    state."""
    width = shuffle_width(spark)
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_id",
            F.col("value").cast("decimal(12,2)").alias("x"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        )
        .repartition(width)
    )
    z0 = F.lit(0).cast("decimal(12,2)")
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("x")).otherwise(z0)).alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("x")).otherwise(z0)).alias("s2"),
    )
    obs = tot.select(
        "n",
        "n1",
        (
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s2").cast("double") / (F.col("n") - F.col("n1")).cast("double")
        ).alias("d"),
    )
    reps = spark.range(64).select(F.col("id").cast("int").alias("p"))
    h7 = F.substring(
        F.md5(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":pm"),
                F.col("p").cast("string"),
            )
        ),
        1,
        7,
    )
    u = (F.conv(h7, 16, 10).cast("bigint") + 1).cast("double") / F.lit(268435457.0)
    pg = F.when(
        u <= F.col("n1").cast("double") / F.col("n").cast("double"), 1
    ).otherwise(0)
    pd_ = (
        base.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(tot.select("n", "n1")))
        .select("p", pg.alias("pg"), "x")
        .groupBy("p")
        .agg(
            (
                F.sum(F.when(F.col("pg") == 1, F.col("x")).otherwise(z0)).cast(
                    "double"
                )
                / F.sum("pg").cast("long")
                - F.sum(F.when(F.col("pg") == 0, F.col("x")).otherwise(z0)).cast(
                    "double"
                )
                / F.sum(1 - F.col("pg")).cast("long")
            ).alias("d_p")
        )
    )
    extreme = F.sum(
        F.when(F.abs(F.col("d_p")) >= F.abs(F.col("d")), 1).otherwise(0)
    ).cast("long")
    return (
        pd_.crossJoin(F.broadcast(obs))
        .groupBy("n1", "n", "d")
        .agg(extreme.alias("n_extreme"))
        .select(
            "n1",
            (F.col("n") - F.col("n1")).cast("long").alias("n2"),
            F.round("d", 4).alias("obs_diff"),
            "n_extreme",
            F.round((1.0 + F.col("n_extreme")) / 65.0, 4).alias("p_value"),
        )
    )


@register(
    "markov_entropy_rate",
    oracle="""
with s as (
  select event_type as from_type,
         lead(event_type) over (partition by user_id order by ts, event_id)
           as to_type
  from events
),
c as (select from_type, to_type, cast(count(*) as bigint) as n
      from s where to_type is not null group by 1, 2),
per_state as (
  select from_type, cast(sum(n) as bigint) as n_s,
         sum(case when n > 0
             then -(cast(n as double)) * ln(cast(n as double)) end) as sl
  from c group by from_type
),
tot as (select cast(sum(n_s) as bigint) as nn from per_state)
select from_type,
       n_s,
       round(sl / cast(n_s as double) + ln(cast(n_s as double)), 6)
         as h_state,
       round((cast(n_s as double) / cast(nn as double))
             * (sl / cast(n_s as double) + ln(cast(n_s as double))), 6)
         as contribution
from per_state cross join tot
order by from_type
""",
)
def q_markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the per-user event-type Markov chain: for each
    state s, the conditional next-step entropy H(s) = −Σ_t P(t|s)
    ln P(t|s), and its contribution weighted by the empirical state
    frequency — Σ_s p̂(s)·H(s) is the chain's entropy rate, the
    predictability summary behind sequence-model feasibility checks
    and anomalous-session scoring (low-entropy users are bots). Uses
    the identity H(s) = (Σ_t −n_st·ln n_st)/n_s + ln n_s so the
    per-transition terms aggregate in ONE pass from exact int64
    counts (no per-row probability division before the aggregate —
    the sum of −n·ln n terms is order-free to double rounding and
    identical cross-engine with the final expression parenthesized
    identically). The transition stream is the
    event_transition_matrix shape: one user-partitioned lead()
    window; everything after runs at |types|² altitude."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    c = s.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nd = F.col("n").cast("double")
    per_state = c.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_s"),
        F.sum(F.when(F.col("n") > 0, -nd * F.log(nd))).alias("sl"),
    )
    tot = per_state.agg(F.sum("n_s").cast("long").alias("nn"))
    ns_d = F.col("n_s").cast("double")
    h = F.col("sl") / ns_d + F.log(ns_d)
    return (
        per_state.crossJoin(F.broadcast(tot))
        .select(
            "from_type",
            "n_s",
            F.round(h, 6).alias("h_state"),
            F.round((ns_d / F.col("nn").cast("double")) * h, 6).alias(
                "contribution"
            ),
        )
        .orderBy("from_type")
    )


@register(
    "haar_energy_daily_revenue",
    oracle=f"""
with {_DAILY_GRID_SQL},
l0 as (select i, x from x),
l1 as (
  select i // 2 as i,
         cast(sum(x) as decimal(18,2)) as s,
         cast(sum(case when i % 2 = 0 then x
                       else cast(0 as decimal(18,2)) end)
              - sum(case when i % 2 = 1 then x
                         else cast(0 as decimal(18,2)) end)
              as decimal(18,2)) as d
  from l0 group by i // 2 having count(*) = 2
),
l2 as (
  select i // 2 as i,
         cast(sum(s) as decimal(18,2)) as s,
         cast(sum(case when i % 2 = 0 then s
                       else cast(0 as decimal(18,2)) end)
              - sum(case when i % 2 = 1 then s
                         else cast(0 as decimal(18,2)) end)
              as decimal(18,2)) as d
  from l1 group by i // 2 having count(*) = 2
),
l3 as (
  select i // 2 as i,
         cast(sum(s) as decimal(18,2)) as s,
         cast(sum(case when i % 2 = 0 then s
                       else cast(0 as decimal(18,2)) end)
              - sum(case when i % 2 = 1 then s
                         else cast(0 as decimal(18,2)) end)
              as decimal(18,2)) as d
  from l2 group by i // 2 having count(*) = 2
),
l4 as (
  select i // 2 as i,
         cast(sum(s) as decimal(18,2)) as s,
         cast(sum(case when i % 2 = 0 then s
                       else cast(0 as decimal(18,2)) end)
              - sum(case when i % 2 = 1 then s
                         else cast(0 as decimal(18,2)) end)
              as decimal(18,2)) as d
  from l3 group by i // 2 having count(*) = 2
),
l5 as (
  select i // 2 as i,
         cast(sum(s) as decimal(18,2)) as s,
         cast(sum(case when i % 2 = 0 then s
                       else cast(0 as decimal(18,2)) end)
              - sum(case when i % 2 = 1 then s
                         else cast(0 as decimal(18,2)) end)
              as decimal(18,2)) as d
  from l4 group by i // 2 having count(*) = 2
)
select * from (
  select cast(1 as bigint) as level, cast(count(*) as bigint) as n_pairs,
         cast(cast(cast(sum(cast(d as decimal(19,2)) * cast(d as decimal(19,2))) as decimal(34,4)) * 16 as decimal(38,4)) as varchar) as energy32 from l1
  union all
  select cast(2 as bigint), cast(count(*) as bigint),
         cast(cast(cast(sum(cast(d as decimal(19,2)) * cast(d as decimal(19,2))) as decimal(34,4)) * 8 as decimal(38,4)) as varchar) from l2
  union all
  select cast(3 as bigint), cast(count(*) as bigint),
         cast(cast(cast(sum(cast(d as decimal(19,2)) * cast(d as decimal(19,2))) as decimal(34,4)) * 4 as decimal(38,4)) as varchar) from l3
  union all
  select cast(4 as bigint), cast(count(*) as bigint),
         cast(cast(cast(sum(cast(d as decimal(19,2)) * cast(d as decimal(19,2))) as decimal(34,4)) * 2 as decimal(38,4)) as varchar) from l4
  union all
  select cast(5 as bigint), cast(count(*) as bigint),
         cast(cast(cast(sum(cast(d as decimal(19,2)) * cast(d as decimal(19,2))) as decimal(34,4)) * 1 as decimal(38,4)) as varchar) from l5
) t order by level
""",
)
def q_haar_energy_daily_revenue(spark, sf_dir):
    """Haar wavelet energy decomposition of daily revenue, levels 1-5
    (pair scale 2 days → 32 days): per level, the unnormalized detail
    coefficients d = s_even − s_odd over the previous level's
    approximations, with Σd²/2^level the orthonormal-Haar band energy
    — the multi-resolution seasonality/burst profile (which time
    scale carries the variance: day-to-day noise, weekly cycle, or
    monthly regime). Band energies are emitted ×32 (energy32 =
    Σd²·2^(5−level), an EXACT decimal — at this magnitude Σd² exceeds
    2⁵³ in scaled units and the decimal→double conversion differs by
    an ulp between engines, so the division is replaced by an exact
    integer multiply, and the column ships as the decimal's STRING
    form — the one representation that survives both engines'
    dataframe materialization without a float conversion; consumers
    divide by 32 once). Pairs are formed
    by integer-dividing the grid
    index (odd tails truncate via the count(*)=2 guard — a DEFINED
    convention, mirrored in both engines); all approximation sums and
    detail differences stay exact decimal through all five levels, so
    the only doubles are five rounded band energies. Runs entirely on
    the calendar-bounded grid: five |grid|/2^k-sized aggregates after
    the one facts groupBy — scale-constant, like every
    _daily_revenue_grid consumer."""
    x = _daily_revenue_grid(spark, sf_dir)
    z = F.lit(0).cast("decimal(18,2)")
    cur = x.select("i", F.col("x").cast("decimal(18,2)").alias("s"))
    outs = []
    for level in range(1, 6):
        nxt = (
            cur.groupBy((F.col("i") / 2).cast("long").alias("i2"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.when(F.col("i") % 2 == 0, F.col("s")).otherwise(z))
                .cast("decimal(18,2)")
                .alias("se"),
                F.sum(F.when(F.col("i") % 2 == 1, F.col("s")).otherwise(z))
                .cast("decimal(18,2)")
                .alias("so"),
            )
            .filter(F.col("cnt") == 2)
            .select(
                F.col("i2").alias("i"),
                (F.col("se") + F.col("so")).cast("decimal(18,2)").alias("s"),
                (F.col("se") - F.col("so")).cast("decimal(18,2)").alias("d"),
            )
        )
        outs.append(
            nxt.agg(
                F.lit(level).cast("long").alias("level"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                (F.sum(F.col("d") * F.col("d")) * F.lit(2 ** (5 - level)))
                .cast("decimal(38,4)")
                .cast("string")
                .alias("energy32"),
            )
        )
        cur = nxt.select("i", "s")
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("level")


# ---------------------------------------------------------------------------
# Round 12 additions — statistics over events (all full-oracle)
# ---------------------------------------------------------------------------

@register(
    "anova_value_by_type",
    oracle="""
with g as (
  select event_type,
         cast(count(*) as bigint) as n,
         sum(cast(value as decimal(12,2))) as s,
         sum(cast(value as decimal(12,2)) * cast(value as decimal(12,2))) as q
  from events
  group by event_type
),
terms as (
  select event_type, n, s, q,
         cast(round(cast(s * s as double) / cast(n as double), 6)
              as decimal(38,6)) as t
  from g
),
tot as (
  select cast(count(*) as bigint) as k,
         cast(sum(n) as bigint) as nn,
         sum(s) as ss,
         sum(q) as qq,
         sum(t) as st
  from terms
)
select k as k_groups, nn as n_total,
       round(((cast(st as double)
               - cast(ss as double) * cast(ss as double) / cast(nn as double))
              / (cast(k as double) - 1.0))
             / ((cast(qq as double) - cast(st as double))
                / (cast(nn as double) - cast(k as double))), 6) as f_stat,
       round((cast(st as double)
              - cast(ss as double) * cast(ss as double) / cast(nn as double))
             / (cast(qq as double)
                - cast(ss as double) * cast(ss as double) / cast(nn as double)),
             6) as eta_sq
from tot
""",
)
def q_anova_value_by_type(spark, sf_dir):
    """One-way ANOVA F-test of event value across event types — the
    k-group generalization of welch_t_value_test (same
    sufficient-statistics discipline): per-group (n, Σx, Σx²) in exact
    decimal, between-group term Σ s_g²/n_g with the per-group ratio
    rounded 6dp then summed as decimal(38,6) — the house per-row-ratio
    rule, making the k-row accumulation order-free — and F =
    (SSB/(k−1))/(SSW/(N−k)) plus effect size η² as one identically
    parenthesized double expression per engine. One map-side-combined
    aggregate over the corpus; everything after is k-row algebra."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(12,2)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dv).alias("s"),
        F.sum(dv * dv).alias("q"),
    )
    terms = g.withColumn(
        "t",
        F.round(
            (F.col("s") * F.col("s")).cast("double") / F.col("n").cast("double"), 6
        ).cast("decimal(38,6)"),
    )
    tot = terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sum("t").alias("st"),
    )
    k_d = F.col("k").cast("double")
    nn_d = F.col("nn").cast("double")
    ss_d = F.col("ss").cast("double")
    qq_d = F.col("qq").cast("double")
    st_d = F.col("st").cast("double")
    ssb = st_d - ss_d * ss_d / nn_d
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round((ssb / (k_d - F.lit(1.0))) / ((qq_d - st_d) / (nn_d - k_d)), 6).alias(
            "f_stat"
        ),
        F.round(ssb / (qq_d - ss_d * ss_d / nn_d), 6).alias("eta_sq"),
    )


@register(
    "mad_event_values",
    oracle="""
with med as (
  select event_type, median(value) as med
  from events group by event_type
),
dev as (
  select e.event_type, e.value, m.med,
         abs(e.value - m.med) as adev
  from events e join med m using (event_type)
),
mad as (
  select event_type,
         cast(count(*) as bigint) as n_events,
         any_value(med) as med,
         median(adev) as mad
  from dev group by event_type
)
select d.event_type, a.n_events,
       round(a.med, 6) as median_value,
       round(a.mad, 6) as mad,
       cast(sum(case when d.adev > 3.0 * 1.4826 * a.mad then 1 else 0 end)
            as bigint) as n_robust_outliers
from dev d join mad a using (event_type)
group by d.event_type, a.n_events, a.med, a.mad
order by d.event_type
""",
)
def q_mad_event_values(spark, sf_dir):
    """Median absolute deviation per event type — the robust scale
    estimate (breakdown point 50% vs stddev's 0) behind outlier gates
    on heavy-tailed value streams. Two exact-median passes (Spark's
    median ≡ DuckDB's: percentile-0.5 with midpoint interpolation on
    identical doubles), then the consistent-σ outlier count at the
    3·1.4826·MAD fence. Distribution shape: medians aggregate at
    (type, value) altitude; the deviation pass is a broadcast join of
    the 5-row median table against the corpus — no corpus shuffle."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.any_value(F.col("med")).alias("medv"),
        F.median("adev").alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n_events", "medv", "mad")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_robust_outliers")
        )
        .select(
            "event_type",
            "n_events",
            F.round("medv", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n_robust_outliers",
        )
        .orderBy("event_type")
    )


@register(
    "grubbs_max_outlier",
    oracle="""
with s as (
  select event_type,
         cast(count(*) as bigint) as n,
         sum(cast(value as decimal(12,2))) as sv,
         sum(cast(value as decimal(12,2)) * cast(value as decimal(12,2))) as qv
  from events group by event_type
),
m as (
  select event_type, n,
         cast(sv as double) / cast(n as double) as mean,
         sqrt((cast(qv as double)
               - cast(sv as double) * cast(sv as double) / cast(n as double))
              / (cast(n as double) - 1.0)) as sd
  from s
)
select e.event_type, m.n,
       round(m.mean, 6) as mean_value,
       round(m.sd, 6) as sd_value,
       round(max(abs(e.value - m.mean)) / m.sd, 6) as g_stat
from events e join m using (event_type)
group by e.event_type, m.n, m.mean, m.sd
order by e.event_type
""",
)
def q_grubbs_max_outlier(spark, sf_dir):
    """Grubbs' test statistic G = max|x−x̄|/s per event type — the
    classic single-outlier screen. Exact decimal (n, Σx, Σx²) feed
    mean and sample sd as identically parenthesized doubles; the max
    deviation is an order-free max aggregate over one broadcast join
    of the 5-row moment table (no corpus shuffle, same plan shape as
    mad_event_values). G compared against the critical value is the
    caller's policy choice — the statistic itself is the query."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(12,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dv).alias("sv"),
        F.sum(dv * dv).alias("qv"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sv").cast("double") / F.col("n").cast("double")).alias("mean"),
        F.sqrt(
            (
                F.col("qv").cast("double")
                - F.col("sv").cast("double")
                * F.col("sv").cast("double")
                / F.col("n").cast("double")
            )
            / (F.col("n").cast("double") - F.lit(1.0))
        ).alias("sd"),
    )
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mean", "sd")
        .agg(F.max(F.abs(F.col("value") - F.col("mean"))).alias("maxdev"))
        .select(
            "event_type",
            "n",
            F.round("mean", 6).alias("mean_value"),
            F.round("sd", 6).alias("sd_value"),
            F.round(F.col("maxdev") / F.col("sd"), 6).alias("g_stat"),
        )
        .orderBy("event_type")
    )


@register(
    "cramers_v_type_daypart",
    oracle="""
with c as (
  select event_type, hour(cast(ts as timestamp)) // 6 as daypart,
         cast(count(*) as bigint) as o
  from events group by 1, 2
),
rt as (select event_type, cast(sum(o) as bigint) as r from c group by event_type),
ct as (select daypart, cast(sum(o) as bigint) as cl from c group by daypart),
tot as (select cast(sum(o) as bigint) as n,
               cast(count(distinct event_type) as bigint) as nr,
               cast(count(distinct daypart) as bigint) as nc
        from c),
cells as (
  select c.event_type, c.daypart, c.o,
         cast(round(
           (cast(c.o as double)
            - cast(rt.r as double) * cast(ct.cl as double) / cast(t.n as double))
           * (cast(c.o as double)
              - cast(rt.r as double) * cast(ct.cl as double) / cast(t.n as double))
           / (cast(rt.r as double) * cast(ct.cl as double) / cast(t.n as double)),
           6) as decimal(38,6)) as term
  from c join rt using (event_type) join ct using (daypart)
  cross join tot t
)
select t.n as n_events, t.nr as n_types, t.nc as n_dayparts,
       round(cast(s.chi2 as double), 6) as chi2,
       round(sqrt(cast(s.chi2 as double)
                  / (cast(t.n as double)
                     * cast(least(t.nr - 1, t.nc - 1) as double))), 6) as cramers_v
from (select sum(term) as chi2 from cells) s cross join tot t
""",
)
def q_cramers_v_type_daypart(spark, sf_dir):
    """Cramér's V association between event type and daypart (6-hour
    bins of hour-of-day) — the normalized-χ² effect size for two
    categoricals, complementing chi2_lang_source with a time-of-day
    dimension. Per-cell (o−e)²/e terms are rounded 6dp then summed as
    decimal(38,6) (order-free accumulation over the r×c cells — the
    anova/house rule); marginals ride broadcast joins of the bounded
    contingency table; the corpus contributes ONE groupBy."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.select(
            "event_type",
            (F.hour(F.col("ts").cast("timestamp")) / 6)
            .cast("int")
            .alias("daypart"),
        )
        .groupBy("event_type", "daypart")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rt = c.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    ct = c.groupBy("daypart").agg(F.sum("o").cast("long").alias("cl"))
    tot = c.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("daypart").cast("long").alias("nc"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("cl").cast("double")
        / F.col("n").cast("double")
    )
    o_d = F.col("o").cast("double")
    cells = (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "daypart")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((o_d - e) * (o_d - e) / e, 6)
            .cast("decimal(38,6)")
            .alias("term")
        )
    )
    chi = cells.agg(F.sum("term").alias("chi2"))
    return (
        chi.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_events"),
            F.col("nr").alias("n_types"),
            F.col("nc").alias("n_dayparts"),
            F.round(F.col("chi2").cast("double"), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2").cast("double")
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("nr") - 1, F.col("nc") - 1).cast("double")
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


@register(
    "seasonal_decomposition_daily",
    oracle=f"""
with {_DAILY_GRID_SQL},
tr as (
  select i, x,
         sum(x) over (order by i rows between 3 preceding and 3 following)
           as s7,
         count(*) over (order by i rows between 3 preceding and 3 following)
           as c7
  from x
),
detr as (
  select i % 7 as phase,
         cast(round(cast(x as double) - round(cast(s7 as double) / 7.0, 6), 6)
              as decimal(18,6)) as dt
  from tr where c7 = 7
)
select cast(phase as bigint) as phase,
       cast(count(*) as bigint) as n_days,
       round(cast(sum(dt) as double) / cast(count(*) as double), 6)
         as seasonal_index
from detr
group by phase
order by phase
""",
)
def q_seasonal_decomposition_daily(spark, sf_dir):
    """Classical seasonal decomposition of daily revenue: trend = the
    centered 7-day moving average (exact decimal window sum, one
    double division rounded 6dp), detrended residuals keyed by weekly
    PHASE (grid index mod 7 — engine-free, unlike dayofweek whose
    origin differs between engines), and the per-phase seasonal index
    as the mean detrended value (each residual rounded 6dp, summed as
    decimal(18,6) — order-free — before the final division). The
    forecasting complement of acf_daily_revenue: ACF detects the
    weekly cycle, this measures its shape. All window work runs on
    the calendar-bounded grid (~2400 rows at any SF; the documented
    bounded-frame exception to the no-global-window rule)."""
    from pyspark.sql import Window

    x = _daily_revenue_grid(spark, sf_dir)
    w = Window.orderBy("i").rowsBetween(-3, 3)
    tr = x.select(
        "i",
        "x",
        F.sum("x").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    )
    detr = tr.filter(F.col("c7") == 7).select(
        (F.col("i") % 7).alias("phase"),
        F.round(
            F.col("x").cast("double") - F.round(F.col("s7").cast("double") / 7.0, 6),
            6,
        )
        .cast("decimal(18,6)")
        .alias("dt"),
    )
    return (
        detr.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum("dt").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("seasonal_index"),
        )
        .select(F.col("phase").cast("long"), "n_days", "seasonal_index")
        .orderBy("phase")
    )


@register(
    "pacf_lag2_daily_revenue",
    oracle=f"""
with {_DAILY_GRID_SQL},
agg as (select cast(count(*) as bigint) as n, sum(x) as sx,
               sum(x * x) as sxx from x),
lags as (select cast(unnest(generate_series(1, 2)) as bigint) as k),
pair as (
  select l.k,
         sum(h.x * t.x) as sxy,
         sum(h.x) as sh,
         sum(t.x) as st
  from lags l
  join x h on true
  join x t on t.i = h.i + l.k
  group by l.k
),
r as (
  select k,
         round((cast(n as double) * cast(n as double) * cast(sxy as double)
                - cast(n as double) * cast(sx as double)
                  * (cast(sh as double) + cast(st as double))
                + (cast(n as double) - cast(k as double))
                  * cast(sx as double) * cast(sx as double))
               / (cast(n as double) * cast(n as double) * cast(sxx as double)
                  - cast(n as double) * cast(sx as double) * cast(sx as double)),
               6) as acf
  from pair cross join agg
),
p as (select max(case when k = 1 then acf end) as r1,
             max(case when k = 2 then acf end) as r2
      from r)
select r1, r2,
       round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) as pacf_lag2
from p
""",
)
def q_pacf_lag2_daily_revenue(spark, sf_dir):
    """Partial autocorrelation at lag 2 via Durbin–Levinson:
    φ₂₂ = (r₂ − r₁²)/(1 − r₁²) from the same exact-sufficient-
    statistics ACF machinery as acf_daily_revenue (lags 1–2 only) —
    the AR-order selector: r₂ says lag-2 correlates, φ₂₂ says whether
    it adds anything BEYOND what lag 1 explains. The closed form
    combines the two 6dp-rounded autocorrelations, so both engines
    start the division from identical doubles."""
    x = _daily_revenue_grid(spark, sf_dir)
    agg = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = spark.range(1, 3).select(F.col("id").cast("long").alias("k"))
    t = x.select(F.col("i").alias("j"), F.col("x").alias("xt"))
    pair = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("j", F.col("i") + F.col("k"))
        .join(t, "j")
        .groupBy("k")
        .agg(
            F.sum(F.col("x") * F.col("xt")).alias("sxy"),
            F.sum("x").alias("sh"),
            F.sum("xt").alias("st"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    num = (
        n * n * F.col("sxy").cast("double")
        - n * sx * (F.col("sh").cast("double") + F.col("st").cast("double"))
        + (n - F.col("k").cast("double")) * sx * sx
    )
    den = n * n * F.col("sxx").cast("double") - n * sx * sx
    r = pair.crossJoin(F.broadcast(agg)).select(
        "k", F.round(num / den, 6).alias("acf")
    )
    p = r.agg(
        F.max(F.when(F.col("k") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("k") == 2, F.col("acf"))).alias("r2"),
    )
    return p.select(
        "r1",
        "r2",
        F.round(
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1.0) - F.col("r1") * F.col("r1")),
            6,
        ).alias("pacf_lag2"),
    )


@register(
    "cusum_two_changepoints",
    oracle=f"""
with {_DAILY_GRID_SQL},
agg as (select cast(count(*) as bigint) as n, sum(x) as sx from x),
c as (
  select day,
         cast(row_number() over (order by i) as bigint) as t,
         sum(x) over (order by i
                      rows between unbounded preceding and current row) as pfx
  from x
),
top1 as (
  select t as t1, pfx as pfx1
  from c cross join agg
  qualify row_number() over (
    order by abs(cast(n as decimal(38,2)) * pfx
                 - cast(t as decimal(38,2)) * sx) desc, day asc) = 1
),
seg as (
  select case when c.t <= o.t1 then 'left' else 'right' end as segment,
         c.day,
         case when c.t <= o.t1 then c.t else c.t - o.t1 end as tr,
         case when c.t <= o.t1 then c.pfx else c.pfx - o.pfx1 end as p,
         case when c.t <= o.t1 then o.t1 else a.n - o.t1 end as m,
         case when c.t <= o.t1 then o.pfx1 else a.sx - o.pfx1 end as s
  from c cross join top1 o cross join agg a
),
best as (
  select segment, day,
         abs(cast(m as decimal(38,2)) * p - cast(tr as decimal(38,2)) * s) as st,
         m
  from seg
  qualify row_number() over (partition by segment
                             order by st desc, day asc) = 1
)
select 'full' as segment, strftime(c.day, '%Y-%m-%d') as change_day,
       round(abs(cast(a.n as decimal(38,2)) * c.pfx
                 - cast(c.t as decimal(38,2)) * a.sx)
             / cast(a.n as decimal(38,2)), 2) as cusum_peak
from c cross join agg a cross join top1 o where c.t = o.t1
union all
select segment, strftime(day, '%Y-%m-%d'),
       round(st / cast(m as decimal(38,2)), 2)
from best
order by segment
""",
)
def q_cusum_two_changepoints(spark, sf_dir):
    """Binary-segmentation change-point detection: the global CUSUM
    change point of daily revenue (cusum_changepoint_revenue's exact
    argmax |n·prefix − t·Σx|, earliest-day tiebreak), then the
    strongest change point INSIDE each resulting half computed
    segment-relative (|m·P − t_rel·S_seg| over the segment's own
    prefix) — the first level of the hierarchical changepoint tree
    that turns one regime shift into a piecewise history. All
    statistics stay exact decimals until the final /m rounding, so
    both argmaxes are engine-stable; the split point joins back as a
    broadcast scalar probe (one collect, the house bounded-probe
    pattern), never a re-scan."""
    from pyspark.sql import Window

    x = _daily_revenue_grid(spark, sf_dir)
    agg_row = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("sx")
    ).first()
    n, sx = int(agg_row["n"]), agg_row["sx"]
    w = Window.orderBy("i")
    c = x.select(
        "i",
        "day",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("pfx"),
    )
    stat_full = F.abs(
        F.lit(n).cast("decimal(38,2)") * F.col("pfx")
        - F.col("t").cast("decimal(38,2)") * F.lit(sx).cast("decimal(24,2)")
    )
    top = (
        c.withColumn("st", stat_full)
        .orderBy(F.col("st").desc(), F.col("day").asc())
        .limit(1)
        .select("t", "pfx")
        .first()
    )
    t1, pfx1 = int(top["t"]), top["pfx"]
    # the 'full' row's peak uses the SAME in-engine round(st / n::dec, 2)
    # expression as the left/right rows — a driver-side Python-Decimal
    # division would take a different intermediate rounding path than
    # the oracle on exact .xx5 boundaries (ADVICE r12); the grid is
    # calendar-bounded so the one-row filter re-scan is negligible
    full_row = (
        c.withColumn("st", stat_full)
        .filter(F.col("t") == F.lit(t1))
        .select(
            F.lit("full").alias("segment"),
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.round(F.col("st") / F.lit(n).cast("decimal(38,2)"), 2)
            .cast("double")
            .alias("cusum_peak"),
        )
    )
    is_left = F.col("t") <= F.lit(t1)
    seg = c.select(
        F.when(is_left, F.lit("left")).otherwise(F.lit("right")).alias("segment"),
        "day",
        F.when(is_left, F.col("t")).otherwise(F.col("t") - F.lit(t1)).alias("tr"),
        F.when(is_left, F.col("pfx"))
        .otherwise(F.col("pfx") - F.lit(pfx1).cast("decimal(24,2)"))
        .alias("p"),
        F.when(is_left, F.lit(t1)).otherwise(F.lit(n - t1)).cast("long").alias("m"),
        F.when(is_left, F.lit(pfx1).cast("decimal(24,2)"))
        .otherwise(
            (F.lit(sx).cast("decimal(24,2)") - F.lit(pfx1).cast("decimal(24,2)"))
            .cast("decimal(24,2)")
        )
        .alias("s"),
    )
    st = F.abs(
        F.col("m").cast("decimal(38,2)") * F.col("p")
        - F.col("tr").cast("decimal(38,2)") * F.col("s")
    )
    ws = Window.partitionBy("segment").orderBy(F.col("st").desc(), F.col("day").asc())
    best = (
        seg.withColumn("st", st)
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select(
            "segment",
            F.date_format("day", "yyyy-MM-dd").alias("change_day"),
            F.round(
                F.col("st") / F.col("m").cast("decimal(38,2)"), 2
            ).cast("double").alias("cusum_peak"),
        )
    )
    return full_row.unionByName(best).orderBy("segment")


_MH_EST_MATCHES = " + ".join(
    f"(case when a.mh_{i} = b.mh_{i} then 1 else 0 end)" for i in range(16)
)


@register(
    "minhash_estimate_error",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 2)) as g from t),
sh as (select doc_id, array_to_string(toks[g:g+2], ' ') as shingle from g),
sh2 as (select doc_id, shingle,
        cast(cast(concat('0x', substr(md5(shingle), 1, 15)) as bigint) as hugeint) as base
        from sh),
sig as (select doc_id,
       {_MH_MINS}
from sh2 group by doc_id),
buckets as (
  {_MH_BANDS}
),
cand as (select distinct a.doc_id as da, b.doc_id as db
         from buckets a join buckets b
           on a.band = b.band and a.bucket = b.bucket and a.doc_id < b.doc_id),
shd as (select distinct doc_id, shingle from sh),
sizes as (select doc_id, count(*) as n from shd group by doc_id),
inter as (select c.da, c.db, count(*) as ni
          from cand c
          join shd a on a.doc_id = c.da
          join shd b on b.doc_id = c.db and b.shingle = a.shingle
          group by c.da, c.db),
jac as (
  select c.da, c.db,
         cast(coalesce(i.ni, 0) as double)
           / cast(sa.n + sb.n - coalesce(i.ni, 0) as double) as jaccard
  from cand c
  left join inter i on i.da = c.da and i.db = c.db
  join sizes sa on c.da = sa.doc_id
  join sizes sb on c.db = sb.doc_id
),
est as (
  select c.da, c.db, ({_MH_EST_MATCHES}) / 16.0 as est
  from cand c join sig a on a.doc_id = c.da join sig b on b.doc_id = c.db
),
err as (
  select cast(round(abs(e.est - j.jaccard), 6) as decimal(18,6)) as err
  from est e join jac j on e.da = j.da and e.db = j.db
)
select cast(count(*) as bigint) as n_pairs,
       round(cast(sum(err) as double) / cast(count(*) as double), 6)
         as mean_abs_err,
       round(cast(max(err) as double), 6) as max_abs_err
from err
""",
)
def q_minhash_estimate_error(spark, sf_dir):
    """Sketch-accuracy audit for the MinHash lane: over the SAME banded
    LSH candidates minhash_near_dup generates, compare
    the 16-hash signature estimate (matching-component fraction — the
    unbiased MinHash Jaccard estimator) against the exact shingle-set
    Jaccard, reporting mean and max absolute error. The production
    loop this closes: when dedup_threshold_sweep picks a cut, this
    query says how far the sketch that FINDS the candidates can be
    trusted near it (E|err| ~ sqrt(J(1-J)/16)). Candidates with zero
    shared shingles keep Jaccard 0 via the left join. Per-pair errors
    round 6dp then sum as decimal (order-free); the candidate pair
    set is LSH-bucketed, never all-pairs."""
    from .functions.text import shingles, tokens as _toks
    from .operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sh_raw = docs.select(
        "doc_id", F.explode(shingles(_toks("text"), 3)).alias("shingle")
    )
    sig = minhash_signatures(sh_raw, 16)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{bi * 4 + r}").cast("string")
                            for r in range(4)
                        ],
                    )
                ).alias("bucket"),
            )
            for bi in range(4)
        ]
    )
    buckets = sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    bx = buckets.alias("x")
    by = buckets.alias("y")
    cand = (
        bx.join(
            by,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    shd = sh_raw.dropDuplicates(["doc_id", "shingle"])
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shd.select(F.col("doc_id").alias("da"), F.col("shingle").alias("sa"))
    b = shd.select(F.col("doc_id").alias("db2"), F.col("shingle").alias("sb"))
    inter = (
        cand.join(a, "da")
        .join(b, (F.col("db") == F.col("db2")) & (F.col("sa") == F.col("sb")))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    ni0 = F.coalesce(F.col("ni"), F.lit(0))
    jac = (
        cand.join(inter, ["da", "db"], "left")
        .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .select(
            "da",
            "db",
            (
                ni0.cast("double")
                / (F.col("na") + F.col("nb") - ni0).cast("double")
            ).alias("jaccard"),
        )
    )
    matches = None
    for i in range(16):
        term = (F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}")).cast("int")
        matches = term if matches is None else matches + term
    est = (
        cand.join(sig.alias("a"), F.col("da") == F.col("a.doc_id"))
        .join(sig.alias("b"), F.col("db") == F.col("b.doc_id"))
        .select("da", "db", (matches / F.lit(16.0)).alias("est"))
    )
    err = (
        est.join(jac, ["da", "db"])
        .select(
            F.round(F.abs(F.col("est") - F.col("jaccard")), 6)
            .cast("decimal(18,6)")
            .alias("err")
        )
    )
    return err.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("err").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_abs_err"),
        F.round(F.max("err").cast("double"), 6).alias("max_abs_err"),
    )


@register(
    "winnowing_fingerprint_pairs",
    oracle=f"""
with t as (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 2)) as g from t),
sh as (select doc_id, g as pos,
              cast(concat('0x', substr(md5(array_to_string(toks[g:g+2], ' ')),
                          1, 15)) as bigint) as h
       from g),
win as (
  select doc_id, pos,
         min(h) over (partition by doc_id order by pos
                      rows between current row and 3 following) as wmin,
         count(*) over (partition by doc_id order by pos
                        rows between current row and 3 following) as wn
  from sh
),
fp as (select distinct doc_id, wmin as h from win where wn = 4),
df as (select h, cast(count(*) as bigint) as df from fp group by h),
keep as (select fp.doc_id, fp.h from fp join df using (h) where df.df <= 50),
pairs as (
  select a.doc_id as doc_id_a, b.doc_id as doc_id_b,
         cast(count(*) as bigint) as shared_fingerprints
  from keep a join keep b on a.h = b.h and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select doc_id_a, doc_id_b, shared_fingerprints
from pairs
order by shared_fingerprints desc, doc_id_a, doc_id_b
limit 20
""",
)
def q_winnowing_fingerprint_pairs(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every 3-gram shingle
    (portable md5 60-bit), slide a w=4 window over each doc's hash
    sequence, and keep each full window's MINIMUM hash as a selected
    fingerprint (deduped per doc — fingerprint identity is the hash,
    so the classic rightmost-tie position rule is irrelevant here) —
    the guarantee: any shared run of w+n−1 tokens yields a fully
    shared window and therefore a shared fingerprint, at ~2/(w+1) the storage of the
    full shingle set. The fourth member of the dedup-candidate ladder
    (blocked-sorted-sets, MinHash-LSH, prefix-filter, now winnowing) —
    unlike the others it also LOCALIZES overlap. Pairs then form by
    equi-join on fingerprint hash with a df ≤ 50 cap (boilerplate
    fingerprints shared by >50 docs are blocked from pairing — the
    ngram_jaccard df-cap policy), top-20 by shared-fingerprint count.
    The per-doc window work is a bounded sliding frame inside the
    doc's partition — one shuffle on doc_id, one on the fingerprint
    key; never all-pairs."""
    from pyspark.sql import Window

    from .functions.text import shingles, tokens as _toks
    from .operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.posexplode(shingles(_toks("text"), 3)).alias("pos", "shingle")
    ).select("doc_id", "pos", portable_hash60(F.col("shingle")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    win = sh.select(
        "doc_id",
        F.min("h").over(w).alias("wmin"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    fp = (
        win.filter(F.col("wn") == 4)
        .select("doc_id", F.col("wmin").alias("h"))
        .distinct()
    )
    df_tab = fp.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("df"))
    keep = fp.join(df_tab.filter(F.col("df") <= 50), "h").select("doc_id", "h")
    ka = keep.select(F.col("doc_id").alias("doc_id_a"), "h")
    kb = keep.select(F.col("doc_id").alias("doc_id_b"), F.col("h").alias("h2"))
    return (
        ka.join(
            kb,
            (F.col("h") == F.col("h2")) & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fingerprints"))
        .orderBy(
            F.col("shared_fingerprints").desc(),
            F.col("doc_id_a").asc(),
            F.col("doc_id_b").asc(),
        )
        .limit(20)
    )


@register(
    "negative_sampling_dist",
    oracle=f"""
with tok as (
  select unnest({SQL_TOKS}) as token from documents
),
f as (select token, cast(count(*) as bigint) as n from tok group by token),
w as (
  select token, n,
         cast(round(sqrt(cast(n as double) * sqrt(cast(n as double))), 6)
              as decimal(18,6)) as wt
  from f
),
z as (select sum(wt) as z from w)
select token, n, cast(wt as double) as weight,
       round(cast(wt as double) / cast(z.z as double), 9) as p_neg
from w cross join z
order by n desc, token
limit 20
""",
)
def q_negative_sampling_dist(spark, sf_dir):
    """word2vec-style negative-sampling distribution: p(token) ∝
    count^0.75 — the smoothed-unigram table every skip-gram trainer
    builds. The engine-portability trick: x^0.75 = sqrt(x·sqrt(x)),
    composing only IEEE-correctly-rounded ops (sqrt, multiply), so
    both engines produce identical doubles where pow(x, 0.75) would
    ride libm and could differ in the last ulp. Weights round 6dp
    then sum as exact decimal for the normalizer Z (order-free);
    output is the top-20 by (count desc, token). One vocabulary
    aggregate; Z is a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    nd = F.col("n").cast("double")
    w = f.select(
        "token",
        "n",
        F.round(F.sqrt(nd * F.sqrt(nd)), 6).cast("decimal(18,6)").alias("wt"),
    )
    z = w.agg(F.sum("wt").alias("z"))
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "token",
            "n",
            F.col("wt").cast("double").alias("weight"),
            F.round(F.col("wt").cast("double") / F.col("z").cast("double"), 9).alias(
                "p_neg"
            ),
        )
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@register(
    "ridge_revenue_2feature",
    oracle="""
with s as (
  select cast(count(*) as bigint) as n,
         sum(cast(l_quantity as decimal(12,4)) * cast(l_quantity as decimal(12,4))) as a11,
         sum(cast(l_quantity as decimal(12,4)) * cast(l_discount as decimal(12,4))) as a12,
         sum(cast(l_discount as decimal(12,4)) * cast(l_discount as decimal(12,4))) as a22,
         sum(cast(l_quantity as decimal(12,4)) * cast(l_extendedprice as decimal(12,2))) as b1,
         sum(cast(l_discount as decimal(12,4)) * cast(l_extendedprice as decimal(12,2))) as b2
  from lineitem
),
d as (
  select n,
         cast(a11 as double) + 1000.0 as a11l,
         cast(a12 as double) as a12d,
         cast(a22 as double) + 1000.0 as a22l,
         cast(b1 as double) as b1d,
         cast(b2 as double) as b2d
  from s
)
select n,
       round((a22l * b1d - a12d * b2d) / (a11l * a22l - a12d * a12d), 6)
         as beta_quantity,
       round((a11l * b2d - a12d * b1d) / (a11l * a22l - a12d * a12d), 6)
         as beta_discount
from d
""",
)
def q_ridge_revenue_2feature(spark, sf_dir):
    """Ridge regression (closed form, λ=1000) of extendedprice on
    (quantity, discount) — the 2-feature normal-equations solve every
    feature-importance sanity check starts from, distributed as ONE
    sufficient-statistics aggregate (XᵀX and Xᵀy in exact decimal,
    the ols_value_trend discipline generalized to 2 features) followed
    by the explicit 2×2 inverse in identically parenthesized doubles.
    At 100 TB the plan is one map-side-combined pass; the solve is
    constant work on the driver-sized aggregate row."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,4)")
    d = F.col("l_discount").cast("decimal(12,4)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q * q).alias("a11"),
        F.sum(q * d).alias("a12"),
        F.sum(d * d).alias("a22"),
        F.sum(q * y).alias("b1"),
        F.sum(d * y).alias("b2"),
    )
    a11l = F.col("a11").cast("double") + F.lit(1000.0)
    a12d = F.col("a12").cast("double")
    a22l = F.col("a22").cast("double") + F.lit(1000.0)
    b1d = F.col("b1").cast("double")
    b2d = F.col("b2").cast("double")
    det = a11l * a22l - a12d * a12d
    return s.select(
        "n",
        F.round((a22l * b1d - a12d * b2d) / det, 6).alias("beta_quantity"),
        F.round((a11l * b2d - a12d * b1d) / det, 6).alias("beta_discount"),
    )


@register(
    "k_anonymity_audit",
    oracle="""
with g as (
  select event_type, cast(cast(ts as timestamp) as date) as day,
         cast(count(*) as bigint) as sz
  from events group by 1, 2
)
select cast(count(*) as bigint) as n_groups,
       cast(min(sz) as bigint) as k_min,
       cast(sum(case when sz < 5 then 1 else 0 end) as bigint) as groups_below_5,
       cast(sum(case when sz < 5 then sz else 0 end) as bigint) as rows_below_5,
       round(cast(sum(case when sz < 5 then sz else 0 end) as double)
             / cast(sum(sz) as double), 6) as suppression_rate
from g
""",
)
def q_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit of the (event_type, day) quasi-identifier:
    group sizes, the corpus k (smallest group), and the suppression
    cost of enforcing k=5 (how many rows sit in groups smaller than
    5) — the privacy-governance readout that decides whether a
    release needs generalization. One groupBy at QI altitude plus a
    constant-size rollup; at 100 TB the QI cardinality (types × days)
    bounds all post-scan state."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    below = F.when(F.col("sz") < 5, F.col("sz")).otherwise(F.lit(0))
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("k_min"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
        .cast("long")
        .alias("groups_below_5"),
        F.sum(below).cast("long").alias("rows_below_5"),
        F.round(
            F.sum(below).cast("double") / F.sum("sz").cast("double"), 6
        ).alias("suppression_rate"),
    )


@register(
    "hurst_rs_daily_revenue",
    oracle=f"""
with {_DAILY_GRID_SQL},
sizes as (select unnest([8, 16, 32, 64, 128]) as b),
blk as (
  select s.b, x.i // s.b as blk, x.i % s.b as t, x.x,
         sum(x.x) over (partition by s.b, x.i // s.b order by x.i
                        rows between unbounded preceding and current row) as pfx
  from x cross join sizes s
),
full_blk as (
  select b, blk, cast(count(*) as bigint) as m,
         sum(x) as sb, sum(x * x) as qb
  from blk group by b, blk
  having count(*) = b
),
dev as (
  select f.b, f.blk,
         max(cast(f.b as decimal(38,2)) * l.pfx
             - cast(l.t + 1 as decimal(38,2)) * f.sb)
           - min(cast(f.b as decimal(38,2)) * l.pfx
                 - cast(l.t + 1 as decimal(38,2)) * f.sb) as rb,
         any_value(cast(f.b as decimal(38,4)) * f.qb - f.sb * f.sb) as s2x
  from full_blk f
  join blk l on l.b = f.b and l.blk = f.blk
  group by f.b, f.blk
),
rs as (
  select b,
         cast(round(cast(rb as double) / sqrt(cast(s2x as double)), 6)
              as decimal(18,6)) as rsv
  from dev where cast(s2x as double) > 0
),
agg as (
  select b, cast(count(*) as bigint) as n_blocks,
         round(cast(sum(rsv) as double) / cast(count(*) as double), 6) as rs_mean
  from rs group by b
),
pts as (
  select cast(round(ln(cast(b as double)), 9) as decimal(18,9)) as lx,
         cast(round(ln(rs_mean), 9) as decimal(18,9)) as ly
  from agg
),
ols as (
  select cast(count(*) as bigint) as n, sum(lx) as sx, sum(ly) as sy,
         sum(lx * lx) as sxx, sum(lx * ly) as sxy
  from pts
),
h as (
  select round((cast(n as double) * cast(sxy as double)
                - cast(sx as double) * cast(sy as double))
               / (cast(n as double) * cast(sxx as double)
                  - cast(sx as double) * cast(sx as double)), 4) as hurst
  from ols
)
select a.b as block_size, a.n_blocks, a.rs_mean, h.hurst
from agg a cross join h
order by a.b
""",
)
def q_hurst_rs_daily_revenue(spark, sf_dir):
    """Hurst exponent of daily revenue by rescaled-range (R/S)
    analysis — the long-memory detector (H≈0.5 random walk, H>0.5
    trending/persistent) behind capacity forecasting. Per block size
    b ∈ {{8..128}}: within-block cumulative deviations kept EXACT by
    the ×b scaling (b·pfx_t − (t+1)·S_b — the CUSUM trick per block),
    R·b as an exact decimal range, S via b·Q − S² ≥ 0, so R/S is one
    double division rounded 6dp; per-size means accumulate as decimal
    (order-free); H is the closed-form OLS slope of ln(R/S) on ln(b)
    over the 5 size points (9dp-rounded log terms, decimal sums). All
    work after the facts groupBy runs on the calendar-bounded grid."""
    from pyspark.sql import Window

    x = _daily_revenue_grid(spark, sf_dir)
    sizes = spark.createDataFrame([(8,), (16,), (32,), (64,), (128,)], "b int")
    blk = x.crossJoin(F.broadcast(sizes)).select(
        "b",
        (F.col("i") / F.col("b")).cast("long").alias("blk"),
        (F.col("i") % F.col("b")).alias("t"),
        "x",
        "i",
    )
    wb = (
        Window.partitionBy("b", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    blk = blk.withColumn("pfx", F.sum("x").over(wb))
    fb = (
        blk.groupBy("b", "blk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("x").alias("sb"),
            F.sum(F.col("x") * F.col("x")).alias("qb"),
        )
        .filter(F.col("m") == F.col("b"))
    )
    dv = F.col("b").cast("decimal(38,2)") * F.col("pfx") - (
        F.col("t") + 1
    ).cast("decimal(38,2)") * F.col("sb")
    dev = (
        blk.join(fb, ["b", "blk"])
        .groupBy("b", "blk")
        .agg(
            (F.max(dv) - F.min(dv)).alias("rb"),
            F.any_value(
                F.col("b").cast("decimal(38,4)") * F.col("qb")
                - F.col("sb") * F.col("sb")
            ).alias("s2x"),
        )
    )
    rs = dev.filter(F.col("s2x").cast("double") > 0).select(
        "b",
        F.round(
            F.col("rb").cast("double") / F.sqrt(F.col("s2x").cast("double")), 6
        )
        .cast("decimal(18,6)")
        .alias("rsv"),
    )
    agg = rs.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.round(
            F.sum("rsv").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("rs_mean"),
    )
    pts = agg.select(
        F.round(F.log(F.col("b").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("lx"),
        F.round(F.log("rs_mean"), 9).cast("decimal(18,9)").alias("ly"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    h = ols.select(
        F.round(
            (nd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double")),
            4,
        ).alias("hurst")
    )
    return (
        agg.crossJoin(F.broadcast(h))
        .select(
            F.col("b").cast("long").alias("block_size"),
            "n_blocks",
            "rs_mean",
            "hurst",
        )
        .orderBy("block_size")
    )


@register(
    "gumbel_monthly_max_fit",
    oracle=f"""
with {_DAILY_GRID_SQL},
mx as (
  select date_trunc('month', day) as mon, max(x) as m
  from x group by 1
),
s as (
  select cast(count(*) as bigint) as n,
         sum(m) as sm,
         sum(m * m) as qm
  from mx
)
select n as n_months,
       round(cast(sm as double) / cast(n as double), 2) as mean_max,
       round(sqrt((cast(qm as double)
                   - cast(sm as double) * cast(sm as double) / cast(n as double))
                  / (cast(n as double) - 1.0))
             * sqrt(6.0) / pi(), 4) as gumbel_beta,
       round(cast(sm as double) / cast(n as double)
             - 0.5772156649015329
               * (sqrt((cast(qm as double)
                        - cast(sm as double) * cast(sm as double)
                          / cast(n as double))
                       / (cast(n as double) - 1.0)) * sqrt(6.0) / pi()), 4)
         as gumbel_mu
from s
""",
)
def q_gumbel_monthly_max_fit(spark, sf_dir):
    """Extreme-value (Gumbel) fit of MONTHLY MAXIMUM daily revenue by
    the method of moments — β = s·√6/π, μ = x̄ − γ·β (γ = the
    Euler–Mascheroni literal, identical in both engines) — the
    capacity-planning readout: what peak should next month be
    provisioned for. Block maxima are exact decimal maxes on the
    calendar grid; the moment sums are exact decimals; β/μ are one
    identically parenthesized double expression each (π via the
    engines' pi(), both the correctly rounded double π)."""
    import math

    x = _daily_revenue_grid(spark, sf_dir)
    mx = x.groupBy(F.date_trunc("month", "day").alias("mon")).agg(
        F.max("x").alias("m")
    )
    s = mx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("qm"),
    )
    nd = F.col("n").cast("double")
    smd = F.col("sm").cast("double")
    qmd = F.col("qm").cast("double")
    sd = F.sqrt((qmd - smd * smd / nd) / (nd - F.lit(1.0)))
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(math.pi)
    return s.select(
        F.col("n").alias("n_months"),
        F.round(smd / nd, 2).alias("mean_max"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(smd / nd - F.lit(0.5772156649015329) * beta, 4).alias("gumbel_mu"),
    )


@register(
    "trimmed_mean_event_values",
    oracle="""
with h as (
  select event_type, value, cast(count(*) as bigint) as c
  from events group by event_type, value
),
p as (
  select event_type, value, c,
         sum(c) over (partition by event_type order by value
                      rows between unbounded preceding and 1 preceding) as lo,
         sum(c) over (partition by event_type) as n
  from h
),
cut as (
  select event_type, value, n,
         greatest(least(coalesce(lo, 0) + c, n - (n // 20))
                  - greatest(coalesce(lo, 0), n // 20), 0) as keep
  from p
)
select event_type,
       cast(any_value(n) as bigint) as n_events,
       cast(any_value(n) - 2 * (any_value(n) // 20) as bigint) as n_kept,
       round(cast(sum(cast(value as decimal(12,2)) * keep) as double)
             / cast(any_value(n) - 2 * (any_value(n) // 20) as double), 6)
         as trimmed_mean
from cut
group by event_type
order by event_type
""",
)
def q_trimmed_mean_event_values(spark, sf_dir):
    """5%-trimmed mean of value per event type — the robust location
    estimate between mean (fragile) and median (discards 100% of the
    tail shape), computed EXACTLY at distinct-value altitude: the
    (value, count) histogram gets prefix counts, each cell contributes
    min(hi, N−k) − max(lo, k) of its mass inside the trim window
    (k = ⌊N/20⌋ per side — integer division both engines), and the
    trimmed sum is exact decimal·int. No row-level sort or rank ever
    touches the corpus — the scaled_avg_rank / equi-depth altitude
    argument applied to trimming."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wp = Window.partitionBy("event_type").orderBy("value")
    p = h.select(
        "event_type",
        "value",
        "c",
        F.coalesce(
            F.sum("c").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("lo"),
        F.sum("c").over(
            Window.partitionBy("event_type").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    k = (F.col("n") / 20).cast("long")
    keep = F.greatest(
        F.least(F.col("lo") + F.col("c"), F.col("n") - k)
        - F.greatest(F.col("lo"), k),
        F.lit(0).cast("long"),
    )
    cut = p.select("event_type", "value", "n", keep.alias("keep"))
    nk = F.any_value(F.col("n")) - 2 * (F.any_value(F.col("n")) / 20).cast("long")
    return (
        cut.groupBy("event_type")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n_events"),
            nk.cast("long").alias("n_kept"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)") * F.col("keep")).cast(
                    "double"
                )
                / nk.cast("double"),
                6,
            ).alias("trimmed_mean"),
        )
        .orderBy("event_type")
    )


@register(
    "robust_zscore_anomaly_days",
    oracle=f"""
with {_DAILY_GRID_SQL},
st as (
  select median(cast(x as double)) as med from x
),
dev as (
  select x.day, x.x, abs(cast(x.x as double) - st.med) as adev, st.med
  from x cross join st
),
sc as (select median(adev) as mad from dev)
select strftime(d.day, '%Y-%m-%d') as day,
       cast(d.x as double) as revenue,
       round((cast(d.x as double) - d.med) / (1.4826 * sc.mad), 4) as robust_z,
       case when d.adev / (1.4826 * sc.mad) > 3.5 then 1 else 0 end as is_anomaly
from dev d cross join sc
order by d.adev / (1.4826 * sc.mad) desc, d.day
limit 15
""",
)
def q_robust_zscore_anomaly_days(spark, sf_dir):
    """Anomalous revenue days by robust z-score |x−median|/(1.4826·MAD)
    with the 3.5 Iglewicz–Hoaglin fence as a flag — the MAD machinery
    pointed at the time axis: a mean/σ detector would let one
    black-Friday spike inflate σ and mask the next one; median/MAD
    cannot be dragged. Two exact medians on the calendar-bounded grid,
    then one scalar broadcast pass; the TOP-15 by severity always
    return (flagged is_anomaly past the fence), so the monitor shows
    the worst days even in a quiet month."""
    x = _daily_revenue_grid(spark, sf_dir)
    st = x.agg(F.median(F.col("x").cast("double")).alias("med"))
    dev = x.crossJoin(F.broadcast(st)).select(
        "day",
        "x",
        "med",
        F.abs(F.col("x").cast("double") - F.col("med")).alias("adev"),
    )
    sc = dev.agg(F.median("adev").alias("mad"))
    z = F.col("adev") / (F.lit(1.4826) * F.col("mad"))
    zs = F.round(
        (F.col("x").cast("double") - F.col("med")) / (F.lit(1.4826) * F.col("mad")),
        4,
    )
    return (
        dev.crossJoin(F.broadcast(sc))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").cast("double").alias("revenue"),
            zs.alias("robust_z"),
            F.when(z > 3.5, 1).otherwise(0).cast("int").alias("is_anomaly"),
            F.col("adev"),
            F.col("mad"),
        )
        .orderBy((F.col("adev") / (F.lit(1.4826) * F.col("mad"))).desc(), F.col("day"))
        .limit(15)
        .drop("adev", "mad")
    )


# ---------------------------------------------------------------------------
# Round 13 additions: drift distances, rank statistics, forecasting,
# tokenizer-adjacent corpus ops, embedding diagnostics, fold assignment
# ---------------------------------------------------------------------------


@register(
    "wasserstein_value_drift",
    oracle="""
with e as (
  select date_diff('day', date '1970-01-01',
                   cast(cast(ts as timestamp) as date)) as di,
         cast(cast(value as decimal(12,2)) * 100 as bigint) as c
  from events
),
b as (select min(di) as d0, max(di) as d1 from e),
t as (
  select c,
         case when di <= (select d0 + (d1 - d0) // 2 from b)
              then 1 else 0 end as early
  from e
),
h as (
  select c,
         cast(sum(early) as bigint) as na,
         cast(sum(1 - early) as bigint) as nb
  from t group by c
),
tot as (select cast(sum(early) as bigint) as tna,
               cast(sum(1 - early) as bigint) as tnb from t),
cum as (
  select c,
         sum(na) over (order by c) as ca,
         sum(nb) over (order by c) as cb,
         lead(c) over (order by c) - c as gap
  from h
)
select t.tna as n_early, t.tnb as n_late,
       round(cast(sum(cast(abs(cast(cum.ca as decimal(18,0)) * t.tnb
                               - cast(cum.cb as decimal(18,0)) * t.tna)
                           as decimal(38,0)) * cum.gap) as double)
             / (cast(t.tna as double) * cast(t.tnb as double) * 100.0), 6)
         as w1_distance
from cum cross join tot t
where cum.gap is not null
group by t.tna, t.tnb
""",
)
def q_wasserstein_value_drift(spark, sf_dir):
    """Exact Wasserstein-1 (earth-mover) distance between the event
    VALUE distributions of the calendar first half vs second half —
    the drift metric that, unlike PSI/KS (psi_value_drift,
    ks_value_two_sample), weighs HOW FAR mass moved, not just that it
    moved. W1 = integral |F_early − F_late| over the value axis,
    computed EXACTLY on the cent-integer domain: |ca·NB − cb·NA|·gap
    summed as decimal(38,0) (products cast to decimal BEFORE the
    multiply — long ca·NB wraps at petabyte row counts), one final
    double division. Scale shape: one groupBy on the cent value (NDV
    bounded by the price domain, ~5e4 here), then a window over that
    bounded histogram — the corpus never sorts, only the histogram
    does (the documented NDV-bounded-grid window policy,
    operators/ranks.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(
            F.to_date(F.col("ts").cast("timestamp")),
            F.lit("1970-01-01").cast("date"),
        ).alias("di"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("c"),
    )
    b = ev.agg(F.min("di").alias("d0"), F.max("di").alias("d1")).select(
        (F.col("d0") + F.floor((F.col("d1") - F.col("d0")) / 2)).alias("mid")
    )
    t = ev.crossJoin(F.broadcast(b)).select(
        "c", F.when(F.col("di") <= F.col("mid"), 1).otherwise(0).alias("early")
    )
    h = t.groupBy("c").agg(
        F.sum("early").cast("long").alias("na"),
        F.sum(F.lit(1) - F.col("early")).cast("long").alias("nb"),
    )
    tot = t.agg(
        F.sum("early").cast("long").alias("tna"),
        F.sum(F.lit(1) - F.col("early")).cast("long").alias("tnb"),
    )
    w = Window.orderBy("c")
    cum = h.select(
        F.sum("na").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("ca"),
        F.sum("nb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cb"),
        (F.lead("c", 1).over(w) - F.col("c")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("tna", "tnb")
        .agg(
            F.sum(
                (
                    F.abs(
                        F.col("ca").cast("decimal(18,0)") * F.col("tnb")
                        - F.col("cb").cast("decimal(18,0)") * F.col("tna")
                    ).cast("decimal(38,0)")
                    * F.col("gap")
                ).cast("decimal(38,0)")
            ).alias("num")
        )
        .select(
            F.col("tna").alias("n_early"),
            F.col("tnb").alias("n_late"),
            F.round(
                F.col("num").cast("double")
                / (
                    F.col("tna").cast("double")
                    * F.col("tnb").cast("double")
                    * F.lit(100.0)
                ),
                6,
            ).alias("w1_distance"),
        )
    )


@register(
    "kendall_tau_daily",
    oracle="""
with rev as (
  select cast(o_orderdate as date) as day,
         sum(cast(o_totalprice as decimal(14,2))) as r,
         cast(count(*) as bigint) as m
  from orders group by 1
),
b as (select min(day) as d0, max(day) as d1 from rev),
g as (
  select cast(date_diff('day', (select d0 from b), s.day) as bigint) as i,
         coalesce(rev.r, cast(0 as decimal(14,2))) as x,
         coalesce(rev.m, 0) as m
  from (select unnest(generate_series((select d0 from b),
                                      (select d1 from b),
                                      interval 1 day))::date as day) s
  left join rev on rev.day = s.day
),
p as (
  select cast(sum(case when (a.x < b.x and a.m < b.m)
                         or (a.x > b.x and a.m > b.m) then 1 else 0 end) as bigint) as nc,
         cast(sum(case when (a.x < b.x and a.m > b.m)
                         or (a.x > b.x and a.m < b.m) then 1 else 0 end) as bigint) as nd
  from g a join g b on a.i < b.i
),
n as (select cast(count(*) as bigint) as n from g),
t1 as (select cast(coalesce(sum(c * (c - 1) / 2), 0) as bigint) as v
       from (select count(*) as c from g group by x) q where c > 1),
t2 as (select cast(coalesce(sum(c * (c - 1) / 2), 0) as bigint) as v
       from (select count(*) as c from g group by m) q where c > 1)
select n.n as n_days, p.nc as concordant, p.nd as discordant,
       t1.v as ties_revenue, t2.v as ties_count,
       round(cast(p.nc - p.nd as double)
             / sqrt(cast(n.n * (n.n - 1) / 2 - t1.v as double)
                    * cast(n.n * (n.n - 1) / 2 - t2.v as double)), 6) as tau_b
from p cross join n cross join t1 cross join t2
""",
)
def q_kendall_tau_daily(spark, sf_dir):
    """Kendall tau-b rank correlation between daily revenue and daily
    order count — the tie-corrected ordinal complement to Spearman
    (spearman_value_risk): exact integer concordant/discordant pair
    counts with C(t,2) tie corrections, ONE double division at the
    end. The pair enumeration is the textbook O(n²) — deliberately:
    it runs on the CALENDAR-bounded daily grid (~2400 rows at any SF,
    so ≤3M pairs forever); the corpus contributes one groupBy(day).
    Zero-filled gap days are real tie mass, exercising both
    correction terms."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).alias("r"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    b = rev.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = b.select(F.explode(F.sequence("d0", "d1")).alias("day"), "d0")
    g = spine.join(rev, "day", "left").select(
        F.datediff("day", "d0").cast("long").alias("i"),
        F.coalesce("r", F.lit(0).cast("decimal(14,2)")).alias("x"),
        F.coalesce("m", F.lit(0)).cast("long").alias("m"),
    )
    a, bb = g.alias("a"), g.alias("b")
    p = (
        a.join(F.broadcast(bb), F.col("a.i") < F.col("b.i"))
        .agg(
            F.sum(
                F.when(
                    ((F.col("a.x") < F.col("b.x")) & (F.col("a.m") < F.col("b.m")))
                    | ((F.col("a.x") > F.col("b.x")) & (F.col("a.m") > F.col("b.m"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("nc"),
            F.sum(
                F.when(
                    ((F.col("a.x") < F.col("b.x")) & (F.col("a.m") > F.col("b.m")))
                    | ((F.col("a.x") > F.col("b.x")) & (F.col("a.m") < F.col("b.m"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("nd"),
        )
    )
    n = g.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def ties(col):
        return (
            g.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("cc"))
            .filter(F.col("cc") > 1)
            .agg(
                F.coalesce(
                    F.sum(F.col("cc") * (F.col("cc") - 1) / 2).cast("long"),
                    F.lit(0),
                ).alias("v")
            )
        )

    t1 = ties("x").withColumnRenamed("v", "ties_revenue")
    t2 = ties("m").withColumnRenamed("v", "ties_count")
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return (
        p.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            F.col("n").alias("n_days"),
            F.col("nc").alias("concordant"),
            F.col("nd").alias("discordant"),
            "ties_revenue",
            "ties_count",
            F.round(
                (F.col("nc") - F.col("nd")).cast("double")
                / F.sqrt(
                    (n0 - F.col("ties_revenue")).cast("double")
                    * (n0 - F.col("ties_count")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


@register(
    "matryoshka_energy_tiers",
    oracle="""
with v as (
  select label,
         list_transform(embedding,
             x -> cast(round(cast(x as double) * 1000000.0) as bigint)) as v
  from embeddings
),
r as (
  select v.label, t.t,
         round(cast(list_sum(list_transform(v.v[1:t.t], y -> y * y)) as double)
               / cast(list_sum(list_transform(v.v, y -> y * y)) as double), 6)
           as ratio
  from v, (select unnest([8, 16, 32, 64]) as t) t
  where list_sum(list_transform(v.v, y -> y * y)) > 0
)
select label, cast(t as int) as tier,
       cast(count(*) as bigint) as n_vectors,
       round(cast(sum(cast(ratio as decimal(8,6))) as double)
             / cast(count(*) as double), 6) as avg_energy_ratio
from r
group by label, t
order by label, tier
""",
)
def q_matryoshka_energy_tiers(spark, sf_dir):
    """Matryoshka-representation diagnostic: per label and prefix tier
    d' ∈ {8,16,32,64}, the mean fraction of embedding energy captured
    by the first d' dimensions — the signal behind truncated-dim ANN
    (Kusupati et al. 2022: MRL-trained embeddings front-load energy,
    so a high prefix ratio says the cheap d'=8 index is safe). All
    arithmetic exact: 1e6-scaled int64 squares (the kmeans SCALE
    discipline), one rounded double ratio per (vec, tier), per-group
    averages as decimal sums of the rounded ratios. Row-local slices
    + one groupBy(label, tier) — no joins, no corpus shuffle beyond
    the 4x-exploded aggregate."""
    from .operators.kmeans import SCALE

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(float(SCALE))).cast("long"),
        ).alias("v"),
    )
    sq = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda y: y * y),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    r = (
        v.select(
            "label",
            "v",
            F.explode(F.array(F.lit(8), F.lit(16), F.lit(32), F.lit(64))).alias("t"),
        )
        .withColumn("den", sq(F.col("v")))
        .filter(F.col("den") > 0)
        .select(
            "label",
            "t",
            F.round(
                sq(F.slice(F.col("v"), 1, F.col("t"))).cast("double")
                / F.col("den").cast("double"),
                6,
            ).alias("ratio"),
        )
    )
    return (
        r.groupBy("label", F.col("t").cast("int").alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(
                F.sum(F.col("ratio").cast("decimal(8,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_energy_ratio"),
        )
        .orderBy("label", "tier")
    )


@register(
    "kfold_stratified_assign",
    oracle=f"""
with d as (
  select doc_id, lang, len({SQL_TOKS}) as n_toks,
         row_number() over (
           partition by lang
           order by md5(cast(doc_id as varchar)), doc_id) as rn
  from documents
)
select lang, cast((rn - 1) % 5 as int) as fold,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_toks) as bigint) as n_tokens
from d
group by lang, fold
order by lang, fold
""",
)
def q_kfold_stratified_assign(spark, sf_dir):
    """Stratified 5-fold cross-validation assignment: within each
    language stratum, documents are ordered by a content-free
    deterministic hash (md5 of doc_id — reshuffle-stable across runs
    and engines) and dealt round-robin, so every fold gets ⌈n/5⌉ or
    ⌊n/5⌋ docs of each language — the class-balanced split scikit's
    StratifiedKFold gives, as one window + one aggregate. Per-stratum
    window only (language cardinality bounds the partition count);
    at 100 TB a single giant stratum serializes its rank — the
    documented hand-off to ordered_row_number (operators/ranks.py)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    d = docs.select(
        "lang",
        F.size(tokens("text")).cast("long").alias("n_toks"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        d.groupBy(
            "lang", ((F.col("rn") - 1) % 5).cast("int").alias("fold")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "fold")
    )


@register(
    "cdc_chunk_dedup",
    oracle=f"""
with t as (
  select doc_id, source, {SQL_TOKS} as toks from documents
  where len({SQL_TOKS}) > 0
),
c as (
  select doc_id, source, toks, len(toks) as n,
         list_filter(generate_series(1, len(toks)),
                     p -> substr(md5(toks[p]), 1, 1) = '0') as bp
  from t
),
s as (
  select doc_id, source, toks,
         list_concat([1], list_transform(
             list_filter(bp, p -> p < n), p -> p + 1)) as starts,
         list_concat(list_filter(bp, p -> p < n), [n]) as ends
  from c
),
ch as (
  select source,
         unnest(list_transform(generate_series(1, len(starts)),
                k -> array_to_string(toks[starts[k]:ends[k]], ' '))) as chunk
  from s
)
select source,
       cast(count(*) as bigint) as n_chunks,
       cast(count(distinct chunk) as bigint) as n_distinct_chunks,
       round(1.0 - cast(count(distinct chunk) as double)
                   / cast(count(*) as double), 6) as dup_chunk_ratio,
       round(cast(sum(len(string_split(chunk, ' '))) as double)
             / cast(count(*) as double), 2) as avg_chunk_tokens
from ch
group by source
order by source
""",
)
def q_cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking dedup profile (the rsync/LBFS/storage-
    dedup recipe at word granularity): a chunk boundary falls AFTER
    any token whose md5 starts with '0' (p=1/16 → ~16-token expected
    chunks), so chunk boundaries are CONTENT-anchored — insert one
    word and only the chunk containing it changes, unlike fixed-width
    windows where everything downstream shifts. Reports per source
    the chunk-level duplication a CDC store would reclaim. All chunk
    construction is row-local array algebra (positions → boundary
    list → start/end zips → slices) with ZERO shuffle before the one
    chunk-level aggregate; both engines build identical chunks from
    the identical md5 test."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = docs.select("source", toks.alias("toks")).filter(F.size("toks") > 0)
    n = F.size("toks")
    bp = F.filter(
        F.sequence(F.lit(1), n),
        lambda p: F.substring(F.md5(F.element_at(F.col("toks"), p)), 1, 1) == "0",
    )
    inner = F.filter(bp, lambda p: p < n)
    starts = F.concat(F.array(F.lit(1)), F.transform(inner, lambda p: p + 1))
    ends = F.concat(inner, F.array(n))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.concat_ws(
            " ", F.slice(F.col("toks"), s, e - s + F.lit(1))
        ),
    )
    ch = t.select("source", F.explode(chunks).alias("chunk"))
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("chunk").cast("long").alias("n_distinct_chunks"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("chunk").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_chunk_ratio"),
            F.round(
                F.sum(F.size(F.split(F.col("chunk"), " "))).cast("double")
                / F.count(F.lit(1)).cast("double"),
                2,
            ).alias("avg_chunk_tokens"),
        )
        .orderBy("source")
    )


#: candidate-pair budget for the levenshtein audit lane (see its
#: docstring); each pair costs an O(len^2) DP, so the budget is tighter
#: than the shingle lanes'.
_LEV_PAIR_BUDGET = 5_000_000

#: budget-refusal auto-escalation depth (VERDICT r13 #3): on refusal the
#: lane retries on a deterministic md5-sampled doc slice sized to the
#: budget (the mg_rescored_topk unattended-ladder pattern) before
#: raising; 0 restores the refuse-only behavior (tests pin that tier).
_LEV_MAX_ESCALATIONS = 4


@register(
    "levenshtein_block_pairs",
    oracle="""
with d as (
  select doc_id, lang, text, n_chars // 64 as lb from documents
),
l as (
  select doc_id, lang, text, lb,
         unnest([lb, lb + 1]) as key
  from d
),
cand as (
  select l.doc_id as da, r.doc_id as db, l.text as ta, r.text as tb
  from l join d r
    on l.key = r.lb and l.lang = r.lang
   and (l.lb < r.lb or (l.lb = r.lb and l.doc_id < r.doc_id))
)
select least(da, db) as doc_id_a,
       greatest(da, db) as doc_id_b,
       cast(levenshtein(ta, tb) as bigint) as edit_distance,
       cast(1.0 as double) as sampled_fraction
from cand
where abs(length(ta) - length(tb)) <= 16 and levenshtein(ta, tb) <= 16
order by doc_id_a, doc_id_b
""",
)
def q_levenshtein_block_pairs(spark, sf_dir):
    """Edit-distance near-dup pairs with RECALL-COMPLETE length
    blocking: docs are bucketed by n_chars//64 within language, and
    since |len(a)−len(b)| ≤ lev(a,b) ≤ 16 < 64, any qualifying pair
    sits in the same or adjacent buckets — so the lower-bucket side
    probing {lb, lb+1} misses nothing (triangle-inequality blocking,
    the classic Gravano et al. length filter). One equi-join on
    (lang, bucket key); each pair is generated exactly once (same
    bucket → doc_id order; adjacent → the lower bucket probes up).
    This is the character-exact audit lane beside the token lanes
    (ngram/minhash/simhash): O(Σ block²) verify pairs each paying an
    O(len²) DP — a CORPUS that piles docs into few (lang, bucket)
    cells goes quadratic, so an exact pair-volume budget guards it
    (same family as prefix_filter_jaccard_pairs): one aggregate over
    the block-count table computes the EXACT candidate pair volume
    (same-bucket C(c,2) + adjacent-bucket c_b·c_{b+1}) against
    ``_LEV_PAIR_BUDGET`` (5e6 pairs ≈ minutes of DP work on one box).

    AUTO-ESCALATION LADDER (VERDICT r13 #3, the mg_rescored_topk
    unattended-ladder pattern): instead of only refusing, an
    over-budget corpus retries on a DETERMINISTIC md5-sampled doc
    slice — keep doc iff md5('levsample:'||doc_id) mod 1e6 < f·1e6,
    with f chosen so the RE-MEASURED exact volume fits (pair volume
    scales ~f², so each tier multiplies f by 0.9·√(budget/est) and
    re-measures — the guarantee comes from re-measurement, never the
    projection). Every row carries ``sampled_fraction`` (1.0 on the
    exact tier), so a sampled audit is visibly a sample. Only when
    ``_LEV_MAX_ESCALATIONS`` tiers fail does it REFUSE loudly, naming
    the measured volume and the minhash lane as the scale path.

    Scan shape (VERDICT r13 "what's wrong" #1): tier estimates read
    only a column-pruned (doc_id, lang, n_chars) projection — the text
    column is never scanned for an estimate — and the accepted tier's
    full projection is localCheckpoint'ed ONCE, so the self-join's two
    sides replay the checkpoint instead of re-scanning parquet: one
    text scan total per call."""
    from .sources.readers import spread_small_scan

    docs = load_table(spark, sf_dir, "documents")
    # pruned estimate projection: no text column (parquet reads just
    # the three narrow columns for every tier probe)
    dm = docs.select(
        "doc_id", "lang", F.floor(F.col("n_chars") / 64).alias("lb")
    )
    sample_hash = portable_hash60(F.col("doc_id"), "levsample:") % 1_000_000

    def _volume(frame) -> int:
        blocks = frame.groupBy("lang", "lb").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        adj = blocks.alias("x").join(
            blocks.alias("y"),
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.lb") + 1 == F.col("y.lb")),
        ).agg(
            F.sum(
                F.col("x.c").cast("decimal(38,0)") * F.col("y.c")
            ).alias("n_adj")
        )
        same = blocks.agg(
            F.sum(
                F.col("c").cast("decimal(38,0)") * (F.col("c") - F.lit(1)) / F.lit(2)
            )
            .cast("decimal(38,0)")
            .alias("n_same")
        )
        est_row = same.crossJoin(adj).first()
        return int(est_row["n_same"] or 0) + int(est_row["n_adj"] or 0)

    thr = 1_000_000  # md5-sample keep threshold out of 1e6 (1e6 = keep all)
    est = _volume(dm)
    for tier in range(_LEV_MAX_ESCALATIONS + 1):
        if est <= _LEV_PAIR_BUDGET:
            break
        if tier == _LEV_MAX_ESCALATIONS:
            raise ValueError(
                f"levenshtein blocking candidate volume {est} exceeds budget "
                f"{_LEV_PAIR_BUDGET} even after {_LEV_MAX_ESCALATIONS} "
                "sampling escalations (length-bucket skew); each candidate "
                "pays an O(len²) edit-distance DP — use the minhash/ngram "
                "lanes at this scale"
            )
        # pair volume scales ~f²; 0.9 safety margin, then RE-MEASURE
        thr = max(1, int(thr * 0.9 * (_LEV_PAIR_BUDGET / est) ** 0.5))
        _log.warning(
            "levenshtein_block_pairs: volume %d > budget %d; escalating "
            "to md5-sampled slice f=%.6f",
            est, _LEV_PAIR_BUDGET, thr / 1e6,
        )
        est = _volume(dm.filter(sample_hash < thr))
    # accepted tier: ONE text scan, checkpointed so the self-join's two
    # sides replay it; spread BEFORE the pair join so the O(len²) DP
    # stage never inherits a single-split scan (measured: 16+ min
    # serialized at ×1 without it)
    d = spread_small_scan(docs).select(
        "doc_id", "lang", "text", F.floor(F.col("n_chars") / 64).alias("lb")
    )
    if thr < 1_000_000:
        d = d.filter(sample_hash < thr)
    d = d.localCheckpoint(eager=True)
    frac = F.lit(thr / 1e6).cast("double")
    left = d.select(
        F.col("doc_id").alias("da"),
        F.col("lang").alias("la"),
        F.col("text").alias("ta"),
        F.col("lb").alias("lba"),
        F.explode(F.array(F.col("lb"), F.col("lb") + 1)).alias("key"),
    )
    cand = left.join(
        d,
        (F.col("key") == F.col("lb"))
        & (F.col("la") == F.col("lang"))
        & (
            (F.col("lba") < F.col("lb"))
            | ((F.col("lba") == F.col("lb")) & (F.col("da") < F.col("doc_id")))
        ),
    )
    # two-stage verify: a free length prefilter (|len(a)−len(b)| ≤ 16
    # is NECESSARY for lev ≤ 16, and most cross/adjacent-bucket pairs
    # fail it), then the BANDED DP — Spark's 3-arg levenshtein runs the
    # O(len·threshold) Ukkonen band instead of the full O(len²) table
    # and returns −1 past the threshold (exact below it). Result set
    # identical to the unbanded form; the oracle keeps plain
    # levenshtein(...) ≤ 16 (DuckDB has no banded variant).
    cand = cand.filter(
        F.abs(F.length(F.col("ta")) - F.length(F.col("text"))) <= 16
    )
    lev = F.levenshtein(F.col("ta"), F.col("text"), 16)
    return (
        cand.select(
            F.least(F.col("da"), F.col("doc_id")).alias("doc_id_a"),
            F.greatest(F.col("da"), F.col("doc_id")).alias("doc_id_b"),
            lev.cast("long").alias("edit_distance"),
            frac.alias("sampled_fraction"),
        )
        .filter(F.col("edit_distance") >= 0)
        .orderBy("doc_id_a", "doc_id_b")
    )


@register(
    "holt_linear_forecast",
    oracle=f"""
with recursive {_DAILY_GRID_SQL},
xm as (select i, cast(round(x * 1000000) as hugeint) as m from x),
n as (select max(i) as mx from xm),
st as (
  select 1 as t,
         (select m from xm where i = 0) as l,
         (select m from xm where i = 1) - (select m from xm where i = 0) as b
  union all
  select q.t + 1 as t, q.nl as l,
         case when q.nl - q.l + q.b >= 0 then (q.nl - q.l + q.b + 1) // 2
              else -((-(q.nl - q.l + q.b) + 1) // 2) end as b
  from (
    select s.t, s.l, s.b,
           case when xm.m + s.l + s.b >= 0 then (xm.m + s.l + s.b + 1) // 2
                else -((-(xm.m + s.l + s.b) + 1) // 2) end as nl
    from st s join xm on xm.i = s.t
  ) q
),
fin as (select l, b from st where t = (select mx + 1 from n)),
h as (select unnest(generate_series(1, 7)) as h)
select cast(h.h as int) as h,
       strftime((select max(day) from x) + to_days(cast(h.h as int)),
                '%Y-%m-%d') as forecast_day,
       round(cast(f.l + h.h * f.b as double) / 1000000.0, 6) as forecast
from fin f cross join h
order by h
""",
)
def q_holt_linear_forecast(spark, sf_dir):
    """Holt's linear-trend exponential smoothing (α=β=1/2) over daily
    revenue with a 7-day-ahead forecast — the trend-aware upgrade of
    the EWMA lane. The dyadic α makes every smoothing step a
    half-division, done in EXACT 1e6-scaled integers with
    round-half-up (shiftright(v+1,1), sign-split) so both engines
    walk bit-identical state: l_t = rhu((x_t+l+b)/2),
    b_t = rhu((l_t−l+b)/2); forecast_h = l_N + h·b_N with one final
    double division. The fold runs over the CALENDAR-bounded grid
    (sorted collect_list + F.aggregate — the sequential dependence is
    irreducible, but the sequence is ~2400 elements at any SF; the
    corpus contributes one groupBy(day))."""
    x = _daily_revenue_grid(spark, sf_dir)
    agg = x.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("i"),
                    (F.col("x") * 1000000).cast("long").alias("m"),
                )
            )
        ).alias("a"),
        F.max("day").alias("dn"),
    )

    def rhu2(v):
        return F.when(v >= 0, F.shiftright(v + F.lit(1), 1)).otherwise(
            -F.shiftright(-v + F.lit(1), 1)
        )

    e1 = F.element_at(F.col("a"), 1)["m"]
    e2 = F.element_at(F.col("a"), 2)["m"]
    init = F.struct(e1.alias("l"), (e2 - e1).alias("b"))

    def step(acc, e):
        nl = rhu2(e["m"] + acc["l"] + acc["b"])
        return F.struct(
            nl.alias("l"), rhu2(nl - acc["l"] + acc["b"]).alias("b")
        )

    st = agg.select(
        F.aggregate(
            F.slice(F.col("a"), 2, F.size("a") - 1), init, step
        ).alias("s"),
        "dn",
    )
    return (
        st.select(
            F.col("s")["l"].alias("l"),
            F.col("s")["b"].alias("b"),
            "dn",
            F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h"),
        )
        .select(
            F.col("h").cast("int").alias("h"),
            F.date_format(F.date_add("dn", F.col("h")), "yyyy-MM-dd").alias(
                "forecast_day"
            ),
            F.round(
                (F.col("l") + F.col("h") * F.col("b")).cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("forecast"),
        )
        .orderBy("h")
    )


@register(
    "skipgram_ppmi_topk",
    oracle=f"""
with t as (
  select {SQL_TOKS} as toks from documents where len({SQL_TOKS}) >= 2
),
pr as (
  select unnest(flatten(list_transform(generate_series(1, len(toks) - 1),
           i -> list_transform(
                  list_filter([i + 1, i + 2], j -> j <= len(toks)),
                  j -> {{'a': least(toks[i], toks[j]),
                        'b': greatest(toks[i], toks[j])}})))) as p
  from t
),
pc as (select p.a as a, p.b as b, cast(count(*) as bigint) as cxy
       from pr group by p.a, p.b),
tok as (
  select unnest({SQL_TOKS}) as w from documents
),
wc as (select w, cast(count(*) as bigint) as c from tok group by w),
tot as (select (select cast(count(*) as bigint) from tok) as nt,
               (select cast(sum(cxy) as bigint) from pc) as np)
select pc.a as token_a, pc.b as token_b, pc.cxy as n_cooc,
       round(greatest(0.0,
             ln(cast(pc.cxy as double) * cast(t.nt as double)
                * cast(t.nt as double)
                / (cast(wa.c as double) * cast(wb.c as double)
                   * cast(t.np as double)))), 6) as ppmi
from pc
join wc wa on wa.w = pc.a
join wc wb on wb.w = pc.b
cross join tot t
where pc.cxy >= 5
order by ppmi desc, token_a, token_b
limit 20
""",
)
def q_skipgram_ppmi_topk(spark, sf_dir):
    """Top-20 skip-gram PPMI collocations (window ±2, unordered
    canonical pairs) — the word2vec-factorization statistic (Levy &
    Goldberg 2014: SGNS ≈ PPMI matrix) complementing the
    adjacent-bigram pmi_collocations lane with window context. Pair
    generation is row-local array algebra (per-position offset lists,
    flattened — no position self-join); counts meet in two bounded
    joins keyed on token; PMI's single ln rides the corpus-level
    scalars as one broadcast row, rounded 6dp (the zipf/tfidf ln
    discipline). min-count 5 and a total (ppmi, pair) order make the
    top-20 cut engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    t = docs.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    n = F.size("toks")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.filter(F.array(i + 1, i + 2), lambda j: j <= n),
                lambda j: F.struct(
                    F.least(
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), j),
                    ).alias("a"),
                    F.greatest(
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), j),
                    ).alias("b"),
                ),
            ),
        )
    )
    pc = (
        t.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p")["a"].alias("a"), F.col("p")["b"].alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
    )
    tok = docs.select(F.explode(toks).alias("w"))
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("nt")).crossJoin(
        pc.agg(F.sum("cxy").cast("long").alias("np"))
    )
    return (
        pc.filter(F.col("cxy") >= 5)
        .join(wc.withColumnRenamed("w", "a").withColumnRenamed("c", "ca"), "a")
        .join(wc.withColumnRenamed("w", "b").withColumnRenamed("c", "cb"), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("token_a"),
            F.col("b").alias("token_b"),
            F.col("cxy").alias("n_cooc"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        F.col("cxy").cast("double")
                        * F.col("nt").cast("double")
                        * F.col("nt").cast("double")
                        / (
                            F.col("ca").cast("double")
                            * F.col("cb").cast("double")
                            * F.col("np").cast("double")
                        )
                    ),
                ),
                6,
            ).alias("ppmi"),
        )
        .orderBy(F.col("ppmi").desc(), "token_a", "token_b")
        .limit(20)
    )


@register(
    "nb_lang_confusion",
    oracle=f"""
with tok as (
  select doc_id, lang, unnest({SQL_TOKS}) as w from documents
),
cnt as (select doc_id, lang, w, cast(count(*) as bigint) as k
        from tok group by doc_id, lang, w),
lt as (select lang, w, cast(count(*) as bigint) as c
       from tok group by lang, w),
cl as (select lang, cast(count(*) as bigint) as cc from tok group by lang),
v as (select cast(count(distinct w) as bigint) as v from tok),
langs as (
  select l.lang, l.cc, v.v,
         cast(round(ln(1.0 / cast(l.cc + v.v as double)), 6)
              as decimal(12,6)) as miss
  from cl l cross join v
),
ll as (
  select lt.lang, lt.w,
         cast(round(ln(cast(lt.c + 1 as double)
                       / cast(l.cc + l.v as double)), 6)
              as decimal(12,6)) as term
  from lt join langs l using (lang)
),
pri as (
  select d.lang,
         cast(round(ln(cast(count(*) as double)
                       / cast((select count(*) from documents) as double)), 6)
              as decimal(12,6)) as lp
  from documents d group by d.lang
),
sc as (
  select c.doc_id, c.lang as true_lang, lg.lang as cand,
         sum(c.k * coalesce(ll.term, lg.miss)) as s
  from cnt c
  cross join langs lg
  left join ll on ll.lang = lg.lang and ll.w = c.w
  group by c.doc_id, c.lang, lg.lang
),
tot as (
  select sc.doc_id, sc.true_lang, sc.cand,
         cast(sc.s as decimal(20,6)) + p.lp as score
  from sc join pri p on p.lang = sc.cand
),
pred as (
  select doc_id, true_lang, cand as pred_lang
  from tot
  qualify row_number() over (partition by doc_id
                             order by score desc, cand asc) = 1
)
select true_lang, pred_lang, cast(count(*) as bigint) as n_docs
from pred
group by true_lang, pred_lang
order by true_lang, pred_lang
""",
)
def q_nb_lang_confusion(spark, sf_dir):
    """Multinomial naive-Bayes language classifier, trained and
    resubstitution-scored in one plan, reported as a confusion matrix
    against the true labels — the learned counterpart of the
    marker-vocabulary lang_id heuristic (and a second supervised
    lane beside the hashed-logit quality model). Laplace-1 token
    likelihoods and the unseen-token default are each ONE rounded ln
    (the zipf/tfidf discipline) frozen as decimal(12,6), so the
    per-doc score Σ k·term is an exact order-free decimal sum both
    engines reproduce; argmax per doc has a total (score desc, lang
    asc) order. Shapes: two token aggregates (corpus-keyed), the
    likelihood join keyed on (lang, token) against the bounded
    5-language candidate fan-out, and a per-doc window — every
    shuffle keyed, no collects, vocabulary never leaves the
    executors."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(tokens("text")).alias("w"))
    cnt = tok.groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    lt = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cl = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("cc"))
    v = tok.agg(F.countDistinct("w").cast("long").alias("v"))
    langs = cl.crossJoin(F.broadcast(v)).select(
        "lang",
        "cc",
        "v",
        F.round(F.log(F.lit(1.0) / (F.col("cc") + F.col("v")).cast("double")), 6)
        .cast("decimal(12,6)")
        .alias("miss"),
    )
    ll = lt.join(langs.select("lang", "cc", "v"), "lang").select(
        "lang",
        "w",
        F.round(
            F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("cc") + F.col("v")).cast("double")
            ),
            6,
        )
        .cast("decimal(12,6)")
        .alias("term"),
    )
    n_docs = docs.count()
    pri = docs.groupBy("lang").agg(
        F.round(
            F.log(F.count(F.lit(1)).cast("double") / F.lit(float(n_docs))), 6
        )
        .cast("decimal(12,6)")
        .alias("lp")
    )
    sc = (
        cnt.withColumnRenamed("lang", "true_lang")
        .crossJoin(
            F.broadcast(
                langs.select(F.col("lang").alias("cand"), F.col("miss"))
            )
        )
        .join(
            ll.withColumnRenamed("lang", "cand").withColumnRenamed(
                "term", "term"
            ),
            ["cand", "w"],
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            F.sum(F.col("k") * F.coalesce(F.col("term"), F.col("miss"))).alias(
                "s"
            )
        )
    )
    tot = sc.join(
        F.broadcast(pri.withColumnRenamed("lang", "cand")), "cand"
    ).select(
        "doc_id",
        "true_lang",
        "cand",
        (F.col("s").cast("decimal(20,6)") + F.col("lp")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand").asc()
    )
    pred = (
        tot.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("cand").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "lsh_param_plan",
    oracle="""
with bands as (select unnest([1, 2, 4, 8, 16]) as b),
s as (select cast(unnest(generate_series(1, 19)) as double) / 20.0 as s)
select cast(b.b as int) as bands,
       cast(16 // b.b as int) as rows_per_band,
       round(s.s, 2) as jaccard,
       round(1.0 - pow(1.0 - pow(s.s, cast(16 // b.b as double)),
                       cast(b.b as double)), 6) as p_candidate,
       round(pow(1.0 / cast(b.b as double),
                 1.0 / cast(16 // b.b as double)), 6) as crossover_threshold
from bands b cross join s
order by bands, jaccard
""",
)
def q_lsh_param_plan(spark, sf_dir):
    """MinHash-LSH banding design table (Leskovec/Rajaraman/Ullman ch.
    3): for every (bands b, rows r) factorization of the repo's
    16-hash signature, the candidate-catch probability
    1−(1−s^r)^b over a jaccard grid plus the steepest-rise crossover
    threshold (1/b)^(1/r) (catch probability 1-(1-1/b)^b there) — the planner that justifies minhash_near_dup's
    default banding and lets an operator pick b,r for a target
    similarity before launching a 100 TB pass. Pure closed-form math
    (no table scan): identical pow/round expressions in both engines
    (the negative_sampling_dist pow precedent)."""
    bands = spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "b int")
    s = spark.range(1, 20).select((F.col("id").cast("double") / 20.0).alias("s"))
    r = (F.lit(16) / F.col("b")).cast("int")
    return (
        bands.crossJoin(s)
        .select(
            F.col("b").cast("int").alias("bands"),
            r.alias("rows_per_band"),
            F.round(F.col("s"), 2).alias("jaccard"),
            F.round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.pow(F.col("s"), r.cast("double")),
                    F.col("b").cast("double"),
                ),
                6,
            ).alias("p_candidate"),
            F.round(
                F.pow(
                    F.lit(1.0) / F.col("b").cast("double"),
                    F.lit(1.0) / r.cast("double"),
                ),
                6,
            ).alias("crossover_threshold"),
        )
        .orderBy("bands", "jaccard")
    )


@register(
    "brier_decomposition",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
{_HEUR_LABEL_CTES},
lm as (select min(logit) as l0, max(logit) as l1 from scored),
pb as (
  select h.doc_id, h.label,
         case when m.l1 > m.l0
              then (s.logit - m.l0) / (m.l1 - m.l0) else 0.5 end as p,
         ntile(10) over (order by s.logit, h.doc_id) as bin
  from heur h join scored s using (doc_id) cross join lm m
),
d as (
  select bin, label,
         cast(round(p, 9) as decimal(12,9)) as rp,
         cast(round((p - case when label then 1.0 else 0.0 end)
                    * (p - case when label then 1.0 else 0.0 end), 9)
              as decimal(12,9)) as sq
  from pb
),
g as (select cast(count(*) as bigint) as n,
             cast(sum(case when label then 1 else 0 end) as bigint) as pos,
             sum(sq) as bsum
      from d),
bins as (
  select bin, cast(count(*) as bigint) as nk,
         cast(sum(case when label then 1 else 0 end) as bigint) as posk,
         sum(rp) as spk
  from d group by bin
),
terms as (
  select cast(round(cast(b.nk as double)
           * pow(cast(b.spk as double) / b.nk
                 - cast(b.posk as double) / b.nk, 2), 9) as decimal(20,9)) as rel_t,
         cast(round(cast(b.nk as double)
           * pow(cast(b.posk as double) / b.nk
                 - cast(g.pos as double) / g.n, 2), 9) as decimal(20,9)) as res_t
  from bins b cross join g
)
select g.n as n_docs,
       round(cast(g.bsum as double) / g.n, 6) as brier,
       round(cast(sum(t.rel_t) as double) / g.n, 6) as reliability,
       round(cast(sum(t.res_t) as double) / g.n, 6) as resolution,
       round((cast(g.pos as double) / g.n)
             * (1.0 - cast(g.pos as double) / g.n), 6) as uncertainty
from terms t cross join g
group by g.n, g.pos, g.bsum
""",
)
def q_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score for the learned quality
    gate against the heuristic label: total Brier, reliability (how far
    binned forecasts sit from their bins' outcome rates), resolution
    (how far bin outcome rates spread from the base rate), and
    uncertainty (base-rate variance) — the calibration summary that
    complements model_reliability_bins' per-bin table and
    model_quality_auc's ranking view with ONE scalar row. Forecast
    probability = the logit min-max-rescaled (deterministic linear
    calibration; exact double expression shared by both engines);
    bins = the same total-order deciles as the reliability lane.
    Per-doc squared errors and per-bin terms are rounded 9dp into
    decimals so every accumulation is order-free; the three final
    divisions are single doubles rounded 6dp. Note the identity
    Brier = REL − RES + UNC holds exactly only for bin-constant
    forecasts; with per-doc forecasts the gap is the within-bin
    forecast/outcome covariance — deliberately NOT folded in, so the
    reported terms are the standard binned decomposition."""
    from .operators.curation import hashed_feature_logit, quality_gate
    from .operators.ranks import exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    heur = quality_gate(docs).select("doc_id", F.col("keep").alias("label"))
    model = hashed_feature_logit(docs).select("doc_id", "logit")
    lm = model.agg(F.min("logit").alias("l0"), F.max("logit").alias("l1"))
    joined = heur.join(model, "doc_id")
    binned = exact_ntile(joined, 10, "logit", "doc_id", out_col="bin")
    p = F.when(
        F.col("l1") > F.col("l0"),
        (F.col("logit") - F.col("l0")) / (F.col("l1") - F.col("l0")),
    ).otherwise(F.lit(0.5))
    y = F.when(F.col("label"), F.lit(1.0)).otherwise(F.lit(0.0))
    d = binned.crossJoin(F.broadcast(lm)).select(
        "bin",
        "label",
        F.round(p, 9).cast("decimal(12,9)").alias("rp"),
        F.round((p - y) * (p - y), 9).cast("decimal(12,9)").alias("sq"),
    )
    # ONE aggregation over d feeds everything (optimization r14,
    # second segment): the first cut aggregated d twice (global g +
    # per-bin bins) and then consumed g from two more places — four
    # executions of the whole heuristic+logit+ntile pipeline, since
    # the differently-pruned subtrees defeat ReuseExchange. Folding
    # the squared-error sum into the per-bin aggregate and deriving
    # the global row from the 10 bin rows makes every consumer hang
    # off the ONE per-bin exchange (ReusedExchange). Values identical:
    # nk/posk are integer sums and sq/rp are 9-dp decimals, so the
    # two-level re-association is exact.
    bins = d.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("posk"),
        F.sum("rp").alias("spk"),
        F.sum("sq").alias("sbk"),
    )
    g = bins.agg(
        F.sum("nk").cast("long").alias("n"),
        F.sum("posk").cast("long").alias("pos"),
        F.sum("sbk").alias("bsum"),
    )
    nk_d = F.col("nk").cast("double")
    terms = bins.crossJoin(F.broadcast(g)).select(
        F.round(
            nk_d
            * F.pow(
                F.col("spk").cast("double") / F.col("nk")
                - F.col("posk").cast("double") / F.col("nk"),
                2,
            ),
            9,
        )
        .cast("decimal(20,9)")
        .alias("rel_t"),
        F.round(
            nk_d
            * F.pow(
                F.col("posk").cast("double") / F.col("nk")
                - F.col("pos").cast("double") / F.col("n"),
                2,
            ),
            9,
        )
        .cast("decimal(20,9)")
        .alias("res_t"),
    )
    ob = F.col("pos").cast("double") / F.col("n")
    return (
        terms.crossJoin(F.broadcast(g))
        .groupBy("n", "pos", "bsum")
        .agg(
            F.sum("rel_t").alias("srel"),
            F.sum("res_t").alias("sres"),
        )
        .select(
            F.col("n").alias("n_docs"),
            F.round(F.col("bsum").cast("double") / F.col("n"), 6).alias("brier"),
            F.round(F.col("srel").cast("double") / F.col("n"), 6).alias(
                "reliability"
            ),
            F.round(F.col("sres").cast("double") / F.col("n"), 6).alias(
                "resolution"
            ),
            F.round(ob * (F.lit(1.0) - ob), 6).alias("uncertainty"),
        )
    )


@register(
    "gate_pass_wilson_ci",
    oracle=f"""
with {_MODEL_LOGIT_SQL},
{_HEUR_LABEL_CTES},
src as (select doc_id, source from documents),
agg as (
  select s.source,
         cast(count(*) as bigint) as n,
         cast(sum(case when h.label then 1 else 0 end) as bigint) as k
  from src s join heur h using (doc_id)
  group by s.source
)
select source, n, k,
       round(cast(k as double) / n, 6) as pass_rate,
       round((cast(k as double) / n + 1.9208 / n
              - 1.96 * sqrt((cast(k as double) / n)
                            * (1.0 - cast(k as double) / n) / n
                            + 0.9604 / (cast(n as double) * n)))
             / (1.0 + 3.8416 / n), 6) as wilson_lo,
       round((cast(k as double) / n + 1.9208 / n
              + 1.96 * sqrt((cast(k as double) / n)
                            * (1.0 - cast(k as double) / n) / n
                            + 0.9604 / (cast(n as double) * n)))
             / (1.0 + 3.8416 / n), 6) as wilson_hi
from agg
order by source
""",
)
def q_gate_pass_wilson_ci(spark, sf_dir):
    """Per-source heuristic-gate pass rate with a Wilson 95% score
    interval — the statistically honest way to compare source quality
    when per-source doc counts differ (a 6/6 source is NOT better than
    a 940/1000 one; Wilson shrinks toward 1/2 with width ∝ 1/√n,
    unlike the Wald interval which collapses to zero width at p̂∈{0,1}).
    z is frozen at 1.96 (z²=3.8416, z²/2=1.9208, z²/4=0.9604 inlined
    as exact literals) so the whole interval is one closed-form double
    expression, written identically in both engines and rounded 6dp.
    One gate pass + one groupBy(source); no windows, no joins beyond
    the bounded source rollup."""
    from .operators.curation import quality_gate

    docs = load_table(spark, sf_dir, "documents")
    heur = quality_gate(docs).select("doc_id", F.col("keep").alias("label"))
    agg = (
        docs.select("doc_id", "source")
        .join(heur, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    n_d = F.col("n").cast("double")
    p = F.col("k").cast("double") / F.col("n")
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n") + F.lit(0.9604) / (n_d * F.col("n"))
    )
    denom = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    center = p + F.lit(1.9208) / F.col("n")
    return agg.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("pass_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("source")


@register(
    "heaps_law_fit",
    oracle=f"""
with tok as (
  select source, unnest({SQL_TOKS}) as w from documents
),
pts as (
  select source,
         round(ln(cast(count(*) as double)), 6) as x,
         round(ln(cast(count(distinct w) as double)), 6) as y
  from tok group by source
),
s as (
  select cast(count(*) as bigint) as n,
         cast(sum(cast(x as decimal(18,6))) as decimal(38,6)) as sx,
         cast(sum(cast(y as decimal(18,6))) as decimal(38,6)) as sy,
         cast(sum(cast(round(x * y, 6) as decimal(18,6))) as decimal(38,6)) as sxy,
         cast(sum(cast(round(x * x, 6) as decimal(18,6))) as decimal(38,6)) as sxx
  from pts
)
select n as n_sources,
       round((cast(sxy as double) - cast(sx as double) * cast(sy as double) / n)
             / (cast(sxx as double) - cast(sx as double) * cast(sx as double) / n),
             6) as beta,
       round(exp((cast(sy as double)
                  - ((cast(sxy as double) - cast(sx as double) * cast(sy as double) / n)
                     / (cast(sxx as double) - cast(sx as double) * cast(sx as double) / n))
                    * cast(sx as double)) / n), 6) as k_coef
from s
""",
)
def q_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit V = K·N^β of vocabulary growth across sources:
    each source contributes one (ln total tokens, ln distinct tokens)
    point, and a log-log OLS over the ~20 source points estimates β
    (natural corpora: 0.4-0.6; β → 1 flags a machine-generated or
    ID-riddled source mix) — the vocabulary-scaling companion to
    zipf_token_alpha's frequency-decay fit. Corpus work is ONE
    groupBy(source) pair of counts; the regression runs at source
    altitude with 6dp-rounded ln points accumulated as exact decimals
    (the zipf ln discipline), then two closed-form double divisions."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("w"))
    pts = tok.groupBy("source").agg(
        F.round(F.log(F.count(F.lit(1)).cast("double")), 6).alias("x"),
        F.round(F.log(F.countDistinct("w").cast("double")), 6).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sx"),
        F.sum(F.col("y").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 6).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 6).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sxx"),
    )
    beta = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    )
    return s.select(
        F.col("n").alias("n_sources"),
        F.round(beta, 6).alias("beta"),
        F.round(
            F.exp(
                (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                / F.col("n")
            ),
            6,
        ).alias("k_coef"),
    )


@register(
    "ann_recall_at_k",
    oracle="""
with c as (select vec_id as centroid_id,
                  list_transform(embedding, x -> cast(x as double)) as ce
           from embeddings where vec_id < 8),
probes as (select vec_id as pid,
                  list_transform(embedding, x -> cast(x as double)) as qe
           from embeddings where vec_id < 5),
allcos as (
  select p.pid, e.vec_id,
         round(list_dot_product(list_transform(e.embedding, x -> cast(x as double)), p.qe)
               / sqrt(list_sum(list_transform(e.embedding,
                                              x -> cast(x as double) * cast(x as double)))
                      * list_sum(list_transform(p.qe, x -> x * x))), 6) as cs
  from embeddings e cross join probes p
  where e.vec_id <> p.pid
),
exact as (
  select pid, vec_id from allcos
  qualify row_number() over (partition by pid order by cs desc, vec_id) <= 10
),
assign as (
  select e.vec_id, c.centroid_id,
         round(sqrt(list_sum(list_transform(
             list_zip(list_transform(e.embedding, x -> cast(x as double)), c.ce),
             p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) as dist
  from embeddings e, c
  qualify row_number() over (partition by e.vec_id order by dist, centroid_id) = 1
),
qprobe as (
  select p.pid, c.centroid_id,
         round(sqrt(list_sum(list_transform(
             list_zip(p.qe, c.ce), z -> (z[1] - z[2]) * (z[1] - z[2])))), 6) as qd
  from probes p cross join c
  qualify row_number() over (partition by p.pid order by qd, centroid_id) <= 2
),
cand as (
  select q.pid, a.vec_id
  from assign a join qprobe q on a.centroid_id = q.centroid_id
  where a.vec_id <> q.pid
),
approx as (
  select ac.pid, ac.vec_id
  from allcos ac join cand on ac.pid = cand.pid and ac.vec_id = cand.vec_id
  qualify row_number() over (partition by ac.pid order by ac.cs desc, ac.vec_id) <= 10
),
hits as (
  select e.pid, cast(count(a.vec_id) as bigint) as n_hits
  from exact e
  left join approx a on e.pid = a.pid and e.vec_id = a.vec_id
  group by e.pid
)
select pid as probe_vec_id, n_hits,
       round(cast(n_hits as double) / 10.0, 2) as recall_at_10
from hits order by probe_vec_id
""",
)
def q_ann_recall_at_k(spark, sf_dir):
    """Recall@10 of the IVF-ANN search lane against exact brute-force
    cosine, over 5 probe vectors — the eval that turns
    ivf_search_vec0's 'recall measured against knn_cosine_vec0'
    docstring claim into a first-class, oracle-checked number (the
    standard ANN benchmark methodology: ann-benchmarks.com reports
    exactly this curve point). One corpus-×-probes cosine pass feeds
    BOTH arms (exact ranks directly; the IVF arm semi-joins it against
    the nprobe=2 candidate set), so the expensive scan is shared and
    the recall join runs at 5×10-row altitude. All ranks are over
    6dp-rounded cosines with vec_id tiebreaks — engine-stable."""
    from .functions.vectors import cosine
    from .operators.similarity import euclidean_sq, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("qe")
    )
    allcos = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "vec_id",
            F.round(cosine("embedding", "qe"), 6).alias("cs"),
        )
    )
    wp = Window.partitionBy("pid").orderBy(F.col("cs").desc(), F.col("vec_id"))
    exact = (
        allcos.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 10)
        .select("pid", "vec_id")
    )
    assign = ivf_assign(emb, n_centroids=8)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    qprobe = (
        probes.crossJoin(F.broadcast(cents))
        .select(
            "pid",
            "centroid_id",
            F.round(F.sqrt(euclidean_sq("qe", "c_emb")), 6).alias("qd"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(
                    F.col("qd").asc(), F.col("centroid_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("pid", "centroid_id")
    )
    cand = (
        assign.join(F.broadcast(qprobe), "centroid_id")
        .filter(F.col("vec_id") != F.col("pid"))
        .select("pid", "vec_id")
    )
    approx = (
        allcos.join(cand, ["pid", "vec_id"])
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= 10)
        .select("pid", F.col("vec_id").alias("avid"))
    )
    return (
        exact.join(
            approx,
            (exact["pid"] == approx["pid"]) & (exact["vec_id"] == approx["avid"]),
            "left",
        )
        .groupBy(exact["pid"])
        .agg(F.count(F.col("avid")).cast("long").alias("n_hits"))
        .select(
            F.col("pid").alias("probe_vec_id"),
            "n_hits",
            F.round(F.col("n_hits").cast("double") / F.lit(10.0), 2).alias(
                "recall_at_10"
            ),
        )
        .orderBy("probe_vec_id")
    )


@register(
    "vocab_growth_curve",
    oracle=f"""
with d as (
  select doc_id, len({SQL_TOKS}) as n_toks,
         ntile(10) over (order by doc_id) as decile
  from documents
),
bounds as (
  select decile, cast(max(doc_id) as bigint) as max_doc_id,
         cast(count(*) as bigint) as n_docs,
         cast(sum(n_toks) as bigint) as n_toks
  from d group by decile
),
firsts as (
  select w, min(doc_id) as first_doc
  from (select doc_id, unnest({SQL_TOKS}) as w from documents)
  group by w
),
fd as (
  select d.decile, cast(count(*) as bigint) as new_vocab
  from firsts f join d on d.doc_id = f.first_doc
  group by d.decile
)
select cast(b.decile as int) as decile, b.max_doc_id,
       cast(sum(b.n_docs) over (order by b.decile) as bigint) as n_docs_cum,
       cast(sum(b.n_toks) over (order by b.decile) as bigint) as n_tokens_cum,
       cast(sum(coalesce(fd.new_vocab, 0)) over (order by b.decile) as bigint)
         as vocab_cum,
       round(cast(sum(coalesce(fd.new_vocab, 0)) over (order by b.decile) as double)
             / cast(sum(b.n_toks) over (order by b.decile) as double), 6)
         as type_token_ratio
from bounds b left join fd using (decile)
order by decile
""",
)
def q_vocab_growth_curve(spark, sf_dir):
    """Exact vocabulary-growth curve: cumulative distinct tokens and
    type-token ratio at each doc-count decile of the corpus — the
    EMPIRICAL curve whose power-law fit heaps_law_fit estimates (read
    together: the fit says β, this says where the data bends away from
    it). The classically sequential 'distinct so far' scan is made
    distributed by the first-occurrence trick: min(doc_id) per token
    (one corpus groupBy), bucket the first-occurrences by decile, and
    cumulative-sum NEW vocabulary over the 10-row decile table — the
    corpus is never ordered, only the bounded bucket frame is."""
    from .operators.ranks import exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    d = exact_ntile(
        docs.select("doc_id", F.size(tokens("text")).cast("long").alias("n_toks")),
        10,
        "doc_id",
        "doc_id",
        out_col="decile",
    )
    bounds = d.groupBy("decile").agg(
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_toks"),
    )
    firsts = (
        docs.select("doc_id", F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    fd = (
        firsts.join(
            d.select(F.col("doc_id").alias("first_doc"), "decile"), "first_doc"
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    joined = bounds.join(fd, "decile", "left").select(
        "decile",
        "max_doc_id",
        "n_docs",
        "n_toks",
        F.coalesce("new_vocab", F.lit(0)).alias("nv"),
    )
    return joined.select(
        F.col("decile").cast("int").alias("decile"),
        "max_doc_id",
        F.sum("n_docs").over(w).cast("long").alias("n_docs_cum"),
        F.sum("n_toks").over(w).cast("long").alias("n_tokens_cum"),
        F.sum("nv").over(w).cast("long").alias("vocab_cum"),
        F.round(
            F.sum("nv").over(w).cast("double")
            / F.sum("n_toks").over(w).cast("double"),
            6,
        ).alias("type_token_ratio"),
    ).orderBy("decile")


# --- round 14: quantile sketches / streaming IVF / planner audit ---

#: probe quantiles for the quantile-sketch lanes, as exact rationals
#: (num, den) so target ranks are computed in integer arithmetic in
#: both engines (a float q·n at a rank boundary could split engines).
_QUANTILE_PROBES = [(1, 100), (1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]


@register(
    "hdr_quantile_sketch",
    oracle="""
with v as (
  select cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) as v,
         o_orderkey % 2 = 0 as h0
  from orders
  where cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) > 0
),
cells as (
  select ((v >> greatest(length(bin(v))-1-7, 0))
          << greatest(length(bin(v))-1-7, 0)) as blo,
         cast(count(*) as bigint) as cell_n
  from v group by 1
),
cells0 as (
  select ((v >> greatest(length(bin(v))-1-7, 0))
          << greatest(length(bin(v))-1-7, 0)) as blo,
         cast(count(*) as bigint) as cell_n
  from v where h0 group by 1
),
cells1 as (
  select ((v >> greatest(length(bin(v))-1-7, 0))
          << greatest(length(bin(v))-1-7, 0)) as blo,
         cast(count(*) as bigint) as cell_n
  from v where not h0 group by 1
),
merged as (
  select coalesce(a.blo, b.blo) as blo,
         coalesce(a.cell_n, 0) + coalesce(b.cell_n, 0) as cell_n
  from cells0 a full outer join cells1 b on a.blo = b.blo
),
cum as (select blo, sum(cell_n) over (order by blo) as cum from cells),
cumm as (select blo, sum(cell_n) over (order by blo) as cum from merged),
n as (select cast(sum(cell_n) as bigint) as n from cells),
probes(num, den) as (values (1,100),(1,4),(1,2),(3,4),(9,10),(99,100)),
r as (select num, den, (num * n.n + den - 1) // den as r from probes, n),
est as (select r.num, r.den, r.r,
        (select min(blo) from cum where cum >= r.r) as est_cents from r),
estm as (select r.num, r.den,
        (select min(blo) from cumm where cum >= r.r) as est_merged_cents from r),
vals as (select v, cast(count(*) as bigint) as c from v group by v),
vcum as (select v, sum(c) over (order by v) as cum from vals),
exact as (select r.num, r.den,
        (select min(v) from vcum where cum >= r.r) as exact_cents from r)
select round(cast(e.num as double) / e.den, 6) as q,
       cast(e.r as bigint) as target_rank,
       cast(e.est_cents as bigint) as est_cents,
       cast(m.est_merged_cents as bigint) as est_merged_cents,
       cast(x.exact_cents as bigint) as exact_cents,
       round(cast(x.exact_cents - e.est_cents as double) / x.exact_cents, 6)
         as rel_err
from est e
join estm m on e.num = m.num and e.den = m.den
join exact x on e.num = x.num and e.den = x.den
order by q
""",
)
def q_hdr_quantile_sketch(spark, sf_dir):
    """Distributed QUANTILE SKETCH with the CMS-style merge-law
    harness (VERDICT r13 #2 — closes the sketch family's quantile
    gap beside CMS/MG/HLL/Bloom): order-price cents are binned into
    value-space dyadic buckets keeping the top 8 significant bits
    (operators/sketches.hdr_cells — the HdrHistogram / dyadic-γ
    DDSketch construction), giving a ≤ (64−7)·2⁷-cell mergeable state
    with guaranteed relative value error < 2⁻⁷ per quantile. The
    report answers six probe quantiles three ways side by side:
    sketch, INDEPENDENTLY-built-halves merged through the public
    merge_hdr_cells sum (merge law checked non-vacuously — the
    count_min_report pattern), and the exact order statistic as
    ground truth with the realized rel_err column. Bucket arithmetic
    is pure integer ops both engines share (length(bin(v)), shifts),
    so the oracle replays every cell, estimate, and error exactly."""
    from .operators.sketches import hdr_quantile_report

    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderkey").alias("hk"),
    )
    return hdr_quantile_report(vals, "cents", "hk", probes=_QUANTILE_PROBES)


@register("kll_quantile_ranks", oracle=None)
def q_kll_quantile_ranks(spark, sf_dir):
    """KLL compactor quantile sketch over order-price cents with the
    sketch's own worst-case rank-error certificate CHECKED in-band
    (operators/sketches.kll_quantile_sketch): per probe quantile the
    row carries target_rank, the sketch estimate, the TRUE rank of
    that estimate (one bounded conditional-sum scan), and the bound
    the compaction counters guarantee — |true_rank − target_rank| ≤
    bound by construction, pytest-pinned. ROWS-ONLY BY DESIGN: the
    compactor state depends on scan partition boundaries, which no
    SQL engine replays (COVERAGE.md §rows-only); the in-band
    true-rank check is the stronger verification, and the
    SQL-replayable member of the quantile family is
    hdr_quantile_sketch."""
    from .operators.sketches import kll_quantile_sketch

    orders = load_table(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("bigint")
        .alias("cents")
    )
    return kll_quantile_sketch(vals, "cents", probes=_QUANTILE_PROBES, k=256)


@register(
    "streaming_ivf_refresh",
    oracle=QUERIES["ivf_search_vec0"].oracle,
)
def q_streaming_ivf_refresh(spark, sf_dir):
    """foreachBatch IVF index refresher (VERDICT r13 #4): embeddings
    arrive as micro-batches, each assigned against the persisted
    codebook and appended to the centroid-partitioned index via
    per-batch dynamic partition overwrite (exactly-once from the
    layout, no marker); the vec-0 probe answered from the streamed
    index must equal the batch `ivf_search_vec0` exactly — the oracle
    IS that query's SQL, proving stream-built == batch-built under
    this slicing (pytest pins other slicings and restart). See
    streaming/upsert.run_streaming_ivf_refresh."""
    from .streaming.upsert import run_streaming_ivf_refresh

    return run_streaming_ivf_refresh(spark, sf_dir)


def _planner_audit_sql(name: str, lsql: str, rsql: str) -> str:
    """One join's planner-inputs row (oracle template for
    q_planner_join_audit): exact sizes/NDVs, exact join cardinality,
    hottest-pair share, the CMS inner-product estimate (the
    cms_join_size_estimate md5-portable cells), and the strategy rule
    computed from the SAME rounded expressions as the Spark side."""
    return f"""
select '{name}' as join_name, x.* from (
with a as ({lsql}),
b as ({rsql}),
fa as (select cast(jk as varchar) as item, cast(count(*) as bigint) as na
       from a group by 1),
fb as (select cast(jk as varchar) as item, cast(count(*) as bigint) as nb
       from b group by 1),
sl as (select cast(sum(na) as bigint) as left_rows,
              cast(count(*) as bigint) as ndv_left from fa),
sr as (select cast(sum(nb) as bigint) as right_rows,
              cast(count(*) as bigint) as ndv_right from fb),
exact as (select cast(coalesce(sum(na * nb), 0) as bigint) as exact_join_rows,
                 cast(coalesce(max(cast(na as hugeint) * nb), 0) as bigint)
                   as hot_pair
          from fa join fb using (item)),
ca as (select t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15))
                   as bigint) % 256 as bucket,
              cast(sum(na) as bigint) as cell
       from fa, range(0, 4) t(i) group by 1, 2),
cb as (select t.i as row,
              cast(concat('0x', substr(md5(concat(t.i, ':', item)), 1, 15))
                   as bigint) % 256 as bucket,
              cast(sum(nb) as bigint) as cell
       from fb, range(0, 4) t(i) group by 1, 2),
rowsums as (select ca.row, sum(ca.cell * cb.cell) as s
            from ca join cb using (row, bucket) group by ca.row),
est as (select cast(min(s) as bigint) as cms_estimate from rowsums)
select left_rows, right_rows, ndv_left, ndv_right, exact_join_rows,
       cms_estimate,
       round(cast(cms_estimate - exact_join_rows as double)
             / cast(exact_join_rows as double), 6) as cms_rel_err,
       case when exact_join_rows > 0
            then round(cast(hot_pair as double) / exact_join_rows, 6)
            else 0.0 end as hot_key_share,
       case when least(left_rows, right_rows) <= 100000 then 'broadcast'
            when (case when exact_join_rows > 0
                       then round(cast(hot_pair as double) / exact_join_rows, 6)
                       else 0.0 end) > 0.10 then 'shuffle_salted'
            else 'shuffle_hash' end as strategy
from sl cross join sr cross join exact cross join est
) x
"""


@register(
    "planner_join_audit",
    oracle=" union all ".join(
        [
            _planner_audit_sql(
                "lineitem_orders",
                "select l_orderkey as jk from lineitem",
                "select o_orderkey as jk from orders",
            ),
            _planner_audit_sql(
                "lineitem_part",
                "select l_partkey as jk from lineitem",
                "select p_partkey as jk from part",
            ),
            _planner_audit_sql(
                "orders_customer",
                "select o_custkey as jk from orders",
                "select c_custkey as jk from customer",
            ),
        ]
    )
    + " order by join_name",
)
def q_planner_join_audit(spark, sf_dir):
    """PLANNER-INPUTS SELF-AUDIT (VERDICT r13 #6): the decision table
    a 100 TB operator reads per headline join, one row each for
    lineitem⋈orders, lineitem⋈part, orders⋈customer — exact sizes /
    key NDVs / join cardinality, the Count-Min inner-product estimate
    a planner would actually hold at plan time (shown against the
    truth it estimates, with its realized relative error), the
    hottest key's share of the join OUTPUT (the salting trigger), and
    the deterministic strategy those inputs imply. Composes the
    existing diagnostics (key_skew_profile altitude,
    cms_join_size_estimate sketch) into operators/skew.py:
    planner_join_audit; everything is NDV-or-smaller after the
    per-side aggregates, so the audit costs one key-width shuffle per
    side — cheap to run BEFORE committing a partitioning."""
    from .operators.skew import planner_join_audit

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def jk(df, col):
        return df.select(F.col(col).alias("jk"))

    parts = [
        planner_join_audit(
            jk(li, "l_orderkey"), jk(orders, "o_orderkey"), "jk", "lineitem_orders"
        ),
        planner_join_audit(
            jk(li, "l_partkey"), jk(part, "p_partkey"), "jk", "lineitem_part"
        ),
        planner_join_audit(
            jk(orders, "o_custkey"), jk(cust, "c_custkey"), "jk", "orders_customer"
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("join_name")


@register(
    "sq8_search_vec0",
    oracle="""
with v as (
  select vec_id, label,
         list_transform(embedding, x -> cast(x as double)) as e
  from embeddings
),
dims as (
  select i, min(e[i]) as mn, max(e[i]) as mx
  from v cross join range(1, 65) t(i)
  group by i
),
cd as (
  select v.vec_id, t.i as i,
         cast(round(case when d.mx > d.mn
              then (v.e[t.i] - d.mn) * 255 / (d.mx - d.mn) else 0.0 end)
              as bigint) as c
  from v cross join range(1, 65) t(i)
  join dims d on d.i = t.i
),
q as (select i, c as qc from cd where vec_id = 0),
dist as (
  select cd.vec_id,
         cast(sum((cd.c - q.qc) * (cd.c - q.qc)) as bigint) as qdist8
  from cd join q using (i)
  where cd.vec_id <> 0
  group by cd.vec_id
),
cand as (select vec_id, qdist8 from dist order by qdist8, vec_id limit 50),
qe as (select e as qe from v where vec_id = 0),
s as (
  select v.vec_id, v.label, c.qdist8,
         list_dot_product(v.e, q.qe) as dp,
         list_sum(list_transform(v.e, x -> x * x)) as na,
         list_sum(list_transform(q.qe, x -> x * x)) as nb
  from v join cand c using (vec_id) cross join qe q
)
select vec_id, label, qdist8, round(dp / sqrt(na * nb), 6) as cos_sim
from s order by cos_sim desc, vec_id limit 10
""",
)
def q_sq8_search_vec0(spark, sf_dir):
    """SCALAR-QUANTIZED (SQ8) ANN search — the quantization rung the
    similarity ladder was missing (VERDICT r13 breadth; beside IVF
    partitioning, PQ-ADC codebooks, BRP-LSH bucketing, SemDeDup): each
    dimension is affinely mapped to an 8-bit code
    c_i = round((x_i − min_i)·255/(max_i − min_i)) using per-dimension
    corpus min/max (one bounded d-row aggregate — model state), the
    candidate scan runs entirely on EXACT INTEGER code distances
    (16× smaller per-vector footprint than float32 at d=64 — the
    production reason SQ8 exists: the scan stays in cache/IO budget),
    and the top-50 candidates are reranked by exact full-precision
    cosine for the final top-10. Every step is engine-portable —
    identical affine doubles, HALF-UP rounding on nonnegative values,
    integer distances, the same candidate cut (qdist8, vec_id) — so
    the oracle replays quantization, scan, and rerank exactly.
    At 100 TB: the code table is what you'd persist (or fuse with the
    IVF layout: probe buckets, scan codes, rerank exact)."""
    from .functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    dims = sorted(
        emb.select(F.posexplode(F.col("embedding")).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect(),  # d rows — bounded model state, not a data collect
        key=lambda r: r["i"],
    )
    mn_arr = F.array(*[F.lit(float(r["mn"])) for r in dims])
    # mx−mn in Python is the same IEEE subtract of the same doubles the
    # SQL side performs in-engine — identical denominators
    den_arr = F.array(*[F.lit(float(r["mx"] - r["mn"])) for r in dims])

    def codes(col):
        return F.transform(
            col,
            lambda x, i: F.when(
                F.element_at(den_arr, i + 1) > 0,
                F.round(
                    (x.cast("double") - F.element_at(mn_arr, i + 1))
                    * F.lit(255)
                    / F.element_at(den_arr, i + 1)
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("long"),
        )

    qc_row = (
        emb.filter(F.col("vec_id") == 0)
        .select(codes(F.col("embedding")).alias("qc"))
        .first()  # in-engine HALF-UP rounding (a Python round would
        # use banker's rounding and diverge at exact halves)
    )
    qc_arr = F.array(*[F.lit(int(x)) for x in qc_row["qc"]])
    qdist8 = F.aggregate(
        F.zip_with(codes(F.col("embedding")), qc_arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", "embedding", qdist8.alias("qdist8"))
        .orderBy(F.col("qdist8").asc(), F.col("vec_id").asc())
        .limit(50)
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        cand.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "label",
            "qdist8",
            F.round(cosine("embedding", "q_embedding"), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register(
    "streaming_hdr_quantiles",
    oracle="""
with v as (
  select cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) as v
  from orders
  where cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint) > 0
),
cells as (
  select ((v >> greatest(length(bin(v))-1-7, 0))
          << greatest(length(bin(v))-1-7, 0)) as blo,
         cast(count(*) as bigint) as cell_n
  from v group by 1
),
cum as (select blo, sum(cell_n) over (order by blo) as cum from cells),
n as (select cast(sum(cell_n) as bigint) as n from cells),
probes(num, den) as (values (1,100),(1,4),(1,2),(3,4),(9,10),(99,100)),
r as (select num, den, (num * n.n + den - 1) // den as r from probes, n)
select round(cast(r.num as double) / r.den, 6) as q,
       cast(r.r as bigint) as target_rank,
       cast((select min(blo) from cum where cum >= r.r) as bigint) as est_cents
from r
order by q
""",
)
def q_streaming_hdr_quantiles(spark, sf_dir):
    """Streaming QUANTILE maintenance: the HDR sketch's exact merge
    law put to work — micro-batches of orders fold into a bounded
    (≤ 57·2⁷ cells) versioned sketch state via cellwise count sums
    (streaming/upsert.run_streaming_hdr_refresh), and because
    value-binned merge is bit-identical to the whole-corpus build, the
    final probe answers equal the batch SQL replica under ANY
    micro-batch slicing — the oracle checks exactly that. Completes
    the streaming refresher family (CDC-latest / MV / CMS / IVF) with
    its quantile member."""
    from .streaming.upsert import run_streaming_hdr_refresh

    return run_streaming_hdr_refresh(spark, sf_dir)


@register(
    "kmv_distinct_setops",
    oracle="""
with t as materialized (
  select o_custkey as key,
         bool_or(o_orderdate < timestamp '1998-01-01') as in_a,
         bool_or(o_orderdate >= timestamp '1998-01-01') as in_b,
         cast(concat('0x', substr(md5('kmv7:' || cast(o_custkey as varchar)), 1, 15)) as bigint) as h
  from orders
  group by o_custkey
),
ka as (select h, key, in_a, in_b from t where in_a order by h, key limit 256),
kb as (select h, key, in_a, in_b from t where in_b order by h, key limit 256),
ku as (select h, key, in_a, in_b from t order by h, key limit 256),
ex as (
  select cast(sum(case when in_a then 1 else 0 end) as bigint) as exact_a,
         cast(sum(case when in_b then 1 else 0 end) as bigint) as exact_b,
         cast(count(*) as bigint) as exact_union,
         cast(sum(case when in_a and in_b then 1 else 0 end) as bigint) as exact_intersect
  from t
),
sa as (select max(h) as kth_hash_a, cast(count(*) as bigint) as sketch_a_size from ka),
sb as (select max(h) as kth_hash_b, cast(count(*) as bigint) as sketch_b_size from kb),
su as (
  select max(h) as kth_hash_union,
         cast(count(*) as bigint) as sketch_union_size,
         cast(sum(case when in_a and in_b then 1 else 0 end) as bigint) as inter_in_sketch
  from ku
),
row1 as (
  select cast(256 as bigint) as k,
         exact_a, exact_b, exact_union, exact_intersect,
         sketch_a_size, sketch_b_size, sketch_union_size,
         kth_hash_a, kth_hash_b, kth_hash_union, inter_in_sketch,
         round(case when sketch_a_size < 256 then cast(sketch_a_size as double)
               else (255.0 * 1152921504606846976.0) / cast(kth_hash_a as double) end, 6) as est_a,
         round(case when sketch_b_size < 256 then cast(sketch_b_size as double)
               else (255.0 * 1152921504606846976.0) / cast(kth_hash_b as double) end, 6) as est_b,
         round(case when sketch_union_size < 256 then cast(sketch_union_size as double)
               else (255.0 * 1152921504606846976.0) / cast(kth_hash_union as double) end, 6) as est_union,
         round(case when sketch_union_size < 256 then cast(inter_in_sketch as double)
               else cast(inter_in_sketch as double) * (255.0 * 1152921504606846976.0)
                    / (cast(sketch_union_size as double) * cast(kth_hash_union as double)) end, 6) as est_intersect,
         round(cast(inter_in_sketch as double) / cast(sketch_union_size as double), 9) as jaccard_est,
         round(cast(exact_intersect as double) / cast(exact_union as double), 9) as jaccard_exact
  from ex, sa, sb, su
)
select *,
       round(abs(est_a - cast(exact_a as double)) / cast(exact_a as double), 6) as rel_err_a,
       round(abs(est_b - cast(exact_b as double)) / cast(exact_b as double), 6) as rel_err_b,
       round(abs(est_union - cast(exact_union as double)) / cast(exact_union as double), 6) as rel_err_union
from row1
""",
)
def q_kmv_distinct_setops(spark, sf_dir):
    """KMV / bottom-k distinct sketch with SET-OPERATION cardinality
    (operators/sketches.py:kmv_setops_report): customers active before
    vs since 1998-01-01 — exact per-side / union / intersection
    distinct counts beside the KMV estimates a shard merge would have,
    with realized rel_err. The FULL-ORACLE member of the distinct-
    sketch family: where HLL's register state is engine-internal
    (hll_sketch_mergeability is rows-only by impossibility argument),
    KMV's state is portable md5 integers, so the sketch values, the
    merge law (Spark merges the two side sketches; the oracle computes
    the direct union bottom-k — value-hash equality IS the proof, the
    merge_cms_cells trick), and both estimators are value-checked
    cross-engine. At 100 TB: one NDV-sized groupBy + two
    TakeOrderedAndProject jobs; k-row state forever after."""
    from .operators.sketches import kmv_setops_report

    orders = load_table(spark, sf_dir, "orders")
    return kmv_setops_report(
        orders,
        "o_custkey",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
        k=256,
    )


_LSH_CAUGHT_SQL = " or ".join(
    "("
    + " and ".join(f"a.mh_{b * 4 + r} = b.mh_{b * 4 + r}" for r in range(4))
    + ")"
    for b in range(4)
)


@register(
    "lsh_recall_audit",
    oracle=f"""
with t as materialized (select doc_id, {SQL_TOKS} as toks from documents),
g as (select doc_id, toks, unnest(generate_series(1, len(toks) - 2)) as g from t),
shs as materialized (select doc_id, array_to_string(toks[g:g+2], ' ') as shingle from g),
shd as materialized (select distinct doc_id, shingle from shs),
sizes as (select doc_id, count(*) as n from shd group by doc_id),
inter as (
  select a.doc_id as da, b.doc_id as db, count(*) as ni
  from shd a join shd b on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
pairs as (
  select da, db,
         cast(ni as double) / cast(sa.n + sb.n - ni as double) as jaccard
  from inter
  join sizes sa on da = sa.doc_id
  join sizes sb on db = sb.doc_id
  where cast(ni as double) / cast(sa.n + sb.n - ni as double) >= 0.5
),
sh2 as (select doc_id, shingle,
        cast(cast(concat('0x', substr(md5(shingle), 1, 15)) as bigint) as hugeint) as base
        from shs),
sig as materialized (select doc_id,
       {{_MH_MINS}}
from sh2 group by doc_id),
scored as (
  select p.jaccard,
         case when {{_LSH_CAUGHT_SQL}} then 1 else 0 end as caught,
         cast(round(1.0 - (1.0 - p.jaccard*p.jaccard*p.jaccard*p.jaccard)
                        * (1.0 - p.jaccard*p.jaccard*p.jaccard*p.jaccard)
                        * (1.0 - p.jaccard*p.jaccard*p.jaccard*p.jaccard)
                        * (1.0 - p.jaccard*p.jaccard*p.jaccard*p.jaccard), 6)
              as decimal(18,6)) as theory
  from pairs p
  join sig a on a.doc_id = p.da
  join sig b on b.doc_id = p.db
)
select least(cast(floor(jaccard * 10) as bigint), 9) as bin,
       round(least(cast(floor(jaccard * 10) as bigint), 9) / 10.0, 1) as bin_lo,
       cast(count(*) as bigint) as n_pairs,
       cast(sum(caught) as bigint) as n_caught,
       round(cast(sum(caught) as double) / cast(count(*) as double), 6) as catch_rate,
       round(cast(sum(theory) as double) / cast(count(*) as double), 6) as theory_catch
from scored
group by 1, 2
order by bin
""".replace("{_MH_MINS}", _MH_MINS).replace("{_LSH_CAUGHT_SQL}", _LSH_CAUGHT_SQL),
)
def q_lsh_recall_audit(spark, sf_dir):
    """REALIZED recall of the banded MinHash-LSH candidate generator
    against the complete truth, per exact-Jaccard bin — the empirical
    validation of lsh_param_plan's theoretical catch curve on this
    corpus's actual near-dup pairs. Ground truth is the prefix-filter
    lane (exact and COMPLETE for J ≥ 0.5, no probabilistic knob);
    for each true pair, 'caught' asks whether the production LSH
    banding (16 portable md5 minhashes, 4 bands × 4 rows — the exact
    minhash_near_dup configuration) would have bucketed the pair
    together, i.e. some band's 4 signature components all match. Per
    bin: pair count, caught count, empirical catch rate, and the
    Karlin banding probability 1−(1−j⁴)⁴ averaged over the bin's
    actual pairs (per-pair 6dp-rounded decimal sum — order-free).
    Closes the loop between three lanes: dedup_threshold_sweep picks
    the cut, lsh_param_plan says what banding SHOULD catch,
    minhash_estimate_error bounds the estimator — and this query says
    what the banding DID catch. At 100 TB the audit runs on a sampled
    slice; every stage here (prefix join, signature join at pair
    altitude) is candidate-bounded, never corpus²."""
    from functools import reduce
    from operator import and_, or_

    from .functions.text import shingles, tokens as _toks
    from .operators.dedup import minhash_signatures, prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5)
    sh_raw = docs.select(
        "doc_id", F.explode(shingles(_toks("text"), 3)).alias("shingle")
    )
    sig = minhash_signatures(sh_raw, 16)
    sa = sig.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(16)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(16)],
    )
    caught = reduce(
        or_,
        [
            reduce(
                and_,
                [
                    F.col(f"a{b * 4 + r}") == F.col(f"b{b * 4 + r}")
                    for r in range(4)
                ],
            )
            for b in range(4)
        ],
    )
    jj = F.col("jaccard")
    q1 = F.lit(1.0) - jj * jj * jj * jj
    theory = F.round(F.lit(1.0) - q1 * q1 * q1 * q1, 6).cast("decimal(18,6)")
    binc = F.least(F.floor(jj * 10).cast("long"), F.lit(9).cast("long"))
    scored = (
        pairs.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            binc.alias("bin"),
            F.round((binc / F.lit(10.0)), 1).alias("bin_lo"),
            caught.cast("int").alias("caught"),
            theory.alias("theory"),
        )
    )
    return (
        scored.groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
            F.round(
                F.sum("caught").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("catch_rate"),
            F.round(
                F.sum("theory").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("theory_catch"),
        )
        .orderBy("bin")
    )


@register(
    "streaming_kmv_distinct",
    oracle="""
with t as (select distinct o_orderkey as key from orders),
h as (select key,
             cast(concat('0x', substr(md5('kmv7:' || cast(key as varchar)), 1, 15)) as bigint) as h
      from t),
ks as (select h, key from h order by h, key limit 256),
s as (select max(h) as kth_hash, cast(count(*) as bigint) as sketch_size from ks),
ex as (select cast(count(*) as bigint) as exact_dv from t),
r as (
  select cast(256 as bigint) as k, sketch_size, kth_hash,
         round(case when sketch_size < 256 then cast(sketch_size as double)
               else (255.0 * 1152921504606846976.0) / cast(kth_hash as double) end, 6) as dv_est,
         exact_dv
  from s, ex
)
select *,
       round(abs(dv_est - cast(exact_dv as double)) / cast(exact_dv as double), 6) as rel_err
from r
""",
)
def q_streaming_kmv_distinct(spark, sf_dir):
    """Streaming DISTINCT-COUNT maintenance: micro-batches of orders
    fold into the bounded KMV bottom-k state
    (streaming/upsert.run_streaming_kmv_refresh) — merge is exactly
    the whole-stream bottom-k, so the final sketch and its
    DV̂ = (k−1)/U(k) answer are bit-identical under ANY micro-batch
    slicing; the oracle's whole-corpus SQL replica must agree on the
    k-th hash, sketch size, estimate, and realized rel_err. The
    distinct-count member of the streaming refresher family and the
    streaming face of kmv_distinct_setops — the live "unique IDs seen
    so far" gauge that HLL gives without value-checkability."""
    from .streaming.upsert import run_streaming_kmv_refresh

    return run_streaming_kmv_refresh(spark, sf_dir)
