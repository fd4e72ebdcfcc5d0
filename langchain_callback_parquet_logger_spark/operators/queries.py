"""Read-side query surface (SURVEY.md §2.10).

Each query here reproduces one read-side capability of the reference
(`turbo3136/langchain-callback-parquet-logger`) as a declarative Spark plan —
the WHAT comes from the reference's README/examples (cited per query), the
HOW is pure DataFrame API so Catalyst gets predicate pushdown, column
pruning, partial aggregation and join-strategy selection for free.

Conventions (driven by the DuckDB-oracle correctness gate):
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver hash-compares values after sorting columns by name);
- floating-point aggregates are rounded (sums to 2 decimals, ratios/avgs to
  6) so accumulation-order differences between engines cannot flip the hash;
- no query ever collects to the driver — everything stays a DataFrame.

Scale notes (100 TB framing) are inline per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.session import glob_escaped, load_table

# Event types present in the driver's synthetic `events` table; stands in for
# the reference's event-type capture set (config.py:23-27).
FILTER_EVENT_TYPES = ("purchase", "error")


# ---------------------------------------------------------------------------
# S10 + P2 — directory scan with explicit projection.
# Reference: pd.read_parquet("./logs") then column access (README.md:218).
# Scale: projection reaches the parquet reader (ReadSchema pruning) — only
# the three requested columns are read off disk.
# ---------------------------------------------------------------------------
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select("event_id", "user_id", "event_type")


ORACLE_SCAN_PROJECT = "SELECT event_id, user_id, event_type FROM events"


# ---------------------------------------------------------------------------
# P1 + P5 — event-type membership filter.
# Reference: configured event_types set (logger.py:241-249) and read-side
# `df[df['event_type'] == 'llm_end']` (examples/batch_run_example.py:103).
# Scale: IN-list predicate is pushed to parquet row-group stats.
# ---------------------------------------------------------------------------
def q_filter_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_type").isin(*FILTER_EVENT_TYPES)).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


ORACLE_FILTER_EVENT_TYPE = f"""
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM events
WHERE event_type IN {FILTER_EVENT_TYPES!r}
"""


# ---------------------------------------------------------------------------
# F2 — JSON field extraction from the payload string.
# Reference: json.loads(payload)['data']['usage']['total_tokens']
# (README.md:221-224). The `events.props` JSON column plays the payload role.
# Scale: get_json_object is codegen'd JVM-side; no Python in the loop.
# ---------------------------------------------------------------------------
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


ORACLE_JSON_EXTRACT = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events
"""


# ---------------------------------------------------------------------------
# P3 — custom-id extraction from a tags array.
# Reference: scan tags for the 'logger_custom_id:' prefix and strip it
# (tagging.py:85-98). The events table has no tags column, so the query
# constructs the reference's canonical tags fixture
# (['tag1', 'logger_custom_id:<id>', 'tag2'], tests/test_core.py:224-240)
# and then runs the real extraction: higher-order FILTER over the array +
# prefix strip — exactly the engine's ingest-path implementation.
# ---------------------------------------------------------------------------
def q_custom_id_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ingest import extract_custom_id_from_tags

    events = load_table(spark, sf_dir, "events")
    tagged = events.withColumn(
        "tags",
        F.array(
            F.lit("tag1"),
            F.concat(F.lit("logger_custom_id:u-"), F.col("user_id").cast("string")),
            F.lit("tag2"),
        ),
    )
    return tagged.select(
        "event_id",
        extract_custom_id_from_tags(F.col("tags")).alias("custom_id"),
    )


ORACLE_CUSTOM_ID_EXTRACT = """
SELECT event_id, 'u-' || CAST(user_id AS VARCHAR) AS custom_id FROM events
"""


# ---------------------------------------------------------------------------
# S4 + A1 — date-partition rollup.
# Reference: hive `date=YYYY-MM-DD/` layout (logger.py:466-470); counting
# rows per day is the canonical partition-pruned aggregate over it.
# Scale: on a date-partitioned log dir this is partition-pruned; the
# aggregation is hash-based with map-side partials.
# ---------------------------------------------------------------------------
def q_date_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("event_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


ORACLE_DATE_PARTITION_AGG = """
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(*) AS n_events,
       round(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# A1 — token-usage rollup per user.
# Reference: "Analyze token usage" aggregation (README.md:221-224,
# examples/batch_run_example.py:117-118); `value` plays total_tokens.
# Scale: partial+final hash aggregate; one shuffle on user_id, unavoidable
# and correct. Flagship query for entry().
# ---------------------------------------------------------------------------
def q_token_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value rollup in EXACT fixed-point: ``value`` is 2-dp
    data riding a double column, so each row quantizes to integer cents
    (lossless), the group SUM is a combine-order-deterministic BIGINT,
    and the displayed sum/avg derive from that one exact integer by a
    single division — the identical IEEE op on both engines.  The
    previous float-path shape (``round(AVG(value), 6)``) was 1-ulp
    summation-order-dependent and hash-diverged at the 0.5e-6 rounding
    boundary on the round-10 sf1 audit (174.727187 vs ...88 — value-
    equal, display-divergent); same convention as q_cost_attribution's
    integer micro-dollars: no floating aggregation ever touches the
    money.  The avg divisor is the NON-NULL value count (``F.count``
    over the cents expression), preserving ``AVG(value)`` semantics
    if the column ever carries nulls — SUM skips them, so dividing by
    COUNT(*) would silently deflate the mean (round-10 advice)."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.groupBy("user_id")
        .agg(
            F.sum(cents).alias("c"),
            F.count(cents).alias("n_vals"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.round(F.col("c") / 100.0, 2).alias("sum_value"),
            F.round(F.col("c") / (100.0 * F.col("n_vals")), 6).alias("avg_value"),
            "n_events",
        )
    )


ORACLE_TOKEN_ROLLUP = """
SELECT user_id,
       round(c / 100.0, 2) AS sum_value,
       round(c / (100.0 * n_vals), 6) AS avg_value,
       n_events
FROM (
  SELECT user_id,
         SUM(CAST(round(value * 100) AS BIGINT)) AS c,
         COUNT(CAST(round(value * 100) AS BIGINT)) AS n_vals,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
"""


# ---------------------------------------------------------------------------
# A1 production read — per-model cost attribution.
# Reference: the token-analysis example extracts llm_type + usage tokens per
# call and rolls them up (examples/batch_run_example.py:106-126,
# README.md:221-224); the production question that analysis exists to answer
# is "what did each (model, day, customer) cost?".  Here the fact side is
# derived deterministically from `events` (model id from the props JSON `k`
# field, prompt tokens from `value`, completion tokens from `k`), joined to a
# module-literal price dimension and aggregated.
#
# Money is exact fixed-point end to end: prices are integer micro-dollars per
# 1k tokens, the per-row cost numerator (tokens × price) is a BIGINT, the
# group SUM is a BIGINT (combine-order deterministic), and the single `div
# 1000` happens after aggregation — no floating point ever touches a dollar.
#
# Scale: the price dim is bounded by construction (one row per model) →
# F.broadcast, so the 100 TB fact table never shuffles for the join; the
# rollup is one hash aggregate on (model, day, custom_id) with map-side
# partials.  get_json_object is codegen'd JVM-side.
#
# Input domain: token counts are non-negative by the usage-metadata
# contract (and the fixture's k ∈ [0, 99]); the `div`/`//` parity the
# cost column relies on is pinned for that domain.  The model-idx
# derivation is nevertheless sign-safe: Spark pmod ↔ the oracle's
# ((k % m) + m) % m agree for any k, so a stray negative never makes
# the two engines disagree about which row joins the dim.
# ---------------------------------------------------------------------------

# Public-style model tiers with integer micro-dollar prices per 1,000
# prompt/completion tokens — bounded dimension (broadcast by policy).
MODEL_PRICE_DIM = [
    # (model_idx, model, prompt_micros_per_1k, completion_micros_per_1k)
    (0, "model-nano", 150, 600),
    (1, "model-small", 800, 4000),
    (2, "model-large", 2500, 10000),
    (3, "model-xl", 15000, 75000),
]


def q_cost_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    price = spark.createDataFrame(
        MODEL_PRICE_DIM, "model_idx BIGINT, model STRING, p_micros BIGINT, c_micros BIGINT"
    )
    k = F.get_json_object("props", "$.k").cast("bigint")
    calls = events.select(
        F.to_date("ts").alias("event_date"),
        F.concat(F.lit("u-"), F.col("user_id").cast("string")).alias("custom_id"),
        F.pmod(k, F.lit(len(MODEL_PRICE_DIM))).alias("model_idx"),
        F.round(F.col("value") * 100).cast("bigint").alias("prompt_tokens"),
        k.alias("completion_tokens"),
    )
    return (
        calls.join(F.broadcast(price), "model_idx")
        .groupBy("model", "event_date", "custom_id")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum("prompt_tokens").alias("prompt_tokens"),
            F.sum("completion_tokens").alias("completion_tokens"),
            # integer `div`, NOT `/`: Spark's / is double division and a
            # large sum would round; Spark `div` == DuckDB `//` for
            # non-negative BIGINT (pinned by test_integer_div_parity).
            F.expr(
                "sum(prompt_tokens * p_micros + completion_tokens * c_micros)"
                " div 1000"
            ).alias("cost_micros"),
        )
    )


def _oracle_cost_attribution() -> str:
    dim_rows = ", ".join(
        f"({i}, '{m}', {p}, {c})" for i, m, p, c in MODEL_PRICE_DIM
    )
    n_models = len(MODEL_PRICE_DIM)
    return f"""
WITH price(model_idx, model, p_micros, c_micros) AS (VALUES {dim_rows}),
calls AS (
  SELECT CAST(ts AS DATE) AS event_date,
         'u-' || CAST(user_id AS VARCHAR) AS custom_id,
         -- ((k % m) + m) % m == Spark's pmod for any sign of k; a bare
         -- % would go negative with the dividend in DuckDB and silently
         -- drop the row at the dim join while Spark kept it
         ((CAST(props->>'$.k' AS BIGINT) % {n_models}) + {n_models})
             % {n_models} AS model_idx,
         CAST(round(value * 100) AS BIGINT) AS prompt_tokens,
         CAST(props->>'$.k' AS BIGINT) AS completion_tokens
  FROM events
)
SELECT model, event_date, custom_id,
       COUNT(*) AS n_calls,
       CAST(SUM(prompt_tokens) AS BIGINT) AS prompt_tokens,
       CAST(SUM(completion_tokens) AS BIGINT) AS completion_tokens,
       CAST(SUM(prompt_tokens * p_micros + completion_tokens * c_micros)
            // 1000 AS BIGINT) AS cost_micros
FROM calls JOIN price USING (model_idx)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# A3 — status / event-type summary.
# Reference: success/failure counts (background_retrieval.py:342).
# ---------------------------------------------------------------------------
def q_status_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.count("*").alias("n"))


ORACLE_STATUS_SUMMARY = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# A4 — keep-last dedup.
# Reference: drop_duplicates(subset=['response_id'], keep='last') on the
# checkpoint (background_retrieval.py:362). The reference relies on concat
# order; a distributed engine needs an explicit ordering, so "last" is the
# max of (ts, event_id) — event_id as a deterministic tiebreaker
# (SURVEY.md §7 "what's hard" #2).
# Scale: argmax via max(struct(order_keys, payload)) — ONE aggregate with
# a map-side partial combine. The equivalent window row_number()=1 (what
# the oracle SQL spells) ships EVERY event to a per-key sort before
# discarding all but one row; the aggregate collapses each key to one row
# per partition first, so wire volume is the distinct key count and a hot
# key degrades to more partial buffers, not a bigger sort. (Struct
# buffers aren't hash-aggregable, so the exec is SortAggregate — the win
# is the partial leg and the wire, not the sort node.) Values identical:
# struct comparison is lexicographic and event_id is unique, so
# argmax == rank-1-desc row.
# ASSUMPTION (load-bearing): the payload column `value` rides INSIDE the
# ordered struct, after the (ts, event_id) order keys. That is safe only
# because event_id is unique per row — no (ts, event_id) tie can ever
# reach the payload position, so `value` never participates in ordering.
# If the order keys could tie (e.g. keying on ts alone, or non-unique
# ids), this form would silently break ties on the payload; restructure
# as max(struct(order_keys)) packed/joined with the payload instead.
# ---------------------------------------------------------------------------
def q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
        .select(
            "user_id",
            "event_type",
            F.col("m.event_id").alias("last_event_id"),
            F.round("m.value", 2).alias("last_value"),
        )
    )


ORACLE_DEDUP_KEEP_LAST = """
SELECT user_id, event_type, last_event_id, last_value FROM (
  SELECT user_id, event_type,
         event_id AS last_event_id,
         round(value, 2) AS last_value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# A5 / J1 — checkpoint anti-join (skip already-processed rows).
# Reference: skip rows whose response_id is in the processed set
# (background_retrieval.py:133-144) — the reference's only join.
# The checkpoint here is a derived slice (every 10th event) so the query is
# self-contained over the shared tables.
# Scale: checkpoint side is broadcast — no shuffle of the big fact table.
# ---------------------------------------------------------------------------
def q_anti_join_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    checkpoint = events.filter(F.col("event_id") % 10 == 0).select("event_id")
    remaining = events.join(F.broadcast(checkpoint), "event_id", "left_anti")
    return remaining.select("event_id", "user_id", "event_type")


ORACLE_ANTI_JOIN_CHECKPOINT = """
SELECT event_id, user_id, event_type
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM events c WHERE c.event_id % 10 = 0 AND c.event_id = e.event_id
)
"""


# ---------------------------------------------------------------------------
# J2 — parent/child hierarchy join.
# Reference: parent_run_id links chain→LLM→tool events (logger.py:170-171,
# tests/test_enhanced_logging.py:322-388). orders⋈lineitem is the testdata
# analog of the parent/child equi join, rolled up per parent status.
# Scale: equi hash join; both sides shuffle on the key (orders is too large
# to broadcast at real scale). AQE handles skewed keys.
# ---------------------------------------------------------------------------
def q_hierarchy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_children"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


ORACLE_HIERARCHY_JOIN = """
SELECT o_orderstatus,
       COUNT(*) AS n_children,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# §2.6 — union + dedup (checkpoint accumulation shape).
# Reference: pd.concat + drop_duplicates (background_retrieval.py:360-362).
# ---------------------------------------------------------------------------
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    slice_a = events.filter(F.col("user_id") < 50).select("event_id", "event_type")
    slice_b = events.filter(F.col("event_type") == "click").select(
        "event_id", "event_type"
    )
    return slice_a.unionByName(slice_b).distinct()


ORACLE_UNION_DEDUP = """
SELECT DISTINCT event_id, event_type FROM (
  SELECT event_id, event_type FROM events WHERE user_id < 50
  UNION ALL
  SELECT event_id, event_type FROM events WHERE event_type = 'click'
)
"""


# ---------------------------------------------------------------------------
# J3 — results-to-input zip as an id join.
# Reference: pd.concat(axis=1) positional alignment
# (examples/batch_run_example.py:133-136). Positional alignment is an
# anti-pattern in a distributed engine; results carry their id and the
# re-attachment is an equi join on it (SURVEY.md §2.5 J3).
# ---------------------------------------------------------------------------
def q_results_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    derived = events.select(
        "event_id", (F.col("value") * 2).alias("derived")
    )
    return (
        events.join(derived, "event_id")
        .select(
            "event_id",
            F.round("value", 2).alias("value"),
            F.round("derived", 2).alias("derived"),
        )
    )


ORACLE_RESULTS_ZIP = """
SELECT e.event_id,
       round(e.value, 2) AS value,
       round(d.derived, 2) AS derived
FROM events e
JOIN (SELECT event_id, value * 2 AS derived FROM events) d
  ON e.event_id = d.event_id
"""


# ---------------------------------------------------------------------------
# Top-K — ORDER BY ... LIMIT over a dimension join.
# Reference: head() in examples (examples/batch_run_example.py:167) → limit.
# Scale: customer cardinality grows with SF (no hard broadcast hint — AQE
# broadcasts while it fits, shuffles on the join key beyond that); Spark
# computes the top-k with per-partition TakeOrdered then a single final
# merge — no global sort.
# ---------------------------------------------------------------------------
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


ORACLE_TOPK = """
SELECT c_custkey, c_name, round(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape) — the classic scan→filter→wide-agg plan.
# Not in the reference (it has no SQL surface) but it is the canonical
# benchmark for the scan+agg path every log-analytics rollup uses.
# Scale: filter pushed to parquet; 8 aggregates in one pass; two-phase agg.
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(AVG(l_quantity), 6) AS avg_qty,
       round(AVG(l_extendedprice), 6) AS avg_price,
       round(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Multi-join star query (TPC-H Q5 shape) — fact table joined through two
# levels of dimensions. Scale: lineitem⋈orders shuffles on orderkey (the two
# big tables). nation is 25 rows at EVERY scale factor — a true bounded dim,
# safe to hard-broadcast. customer grows with SF, so it carries no hint:
# AQE broadcasts it while small and switches to a shuffled join beyond the
# threshold. At 100 TB the fact-fact join would be bucketed on orderkey to
# remove even that exchange.
# ---------------------------------------------------------------------------
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical subtotals in one pass (priority → status → grand
# total). The reference has nothing like it; Spark expands the grouping
# sets inside a single two-phase hash aggregate, so the extra subtotal rows
# cost one expand, not extra scans.
# ---------------------------------------------------------------------------
def q_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORACLE_PRIORITY_ROLLUP = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       round(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


# ---------------------------------------------------------------------------
# Sessionization — gap-based sessions via window functions (lag → flag →
# running count). The canonical event-stream operator the reference's log
# consumers would run. Scale: one shuffle on user_id; per-user ordering is
# local to the partition, state is O(1) per row. Gap arithmetic is integer
# microseconds on both engines.
# ---------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(
        prev.isNull() | ((F.unix_micros(F.col("ts")) - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Salted two-phase aggregation — the skew-mitigation pattern spelled out.
# A hot key (one user producing most of the stream) makes one reducer the
# straggler in a plain groupBy; salting splits each key across SALT_BUCKETS
# partial aggregates, then a second (tiny) aggregate folds the partials.
# Counts are integers so the salted plan is bit-identical to the direct
# rollup — same oracle shape as q_token_rollup's count path. AQE's
# skewedJoin handles join skew at runtime; aggregation skew needs this.
# ---------------------------------------------------------------------------
SALT_BUCKETS = 8


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    salted = events.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS))
    )
    partial = salted.groupBy("user_id", "salt").agg(
        F.count("*").alias("pn"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("perr"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("perr").alias("n_errors"),
    )


ORACLE_SALTED_ROLLUP = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# F2 on Spark 4's native semi-structured path: the payload JSON is parsed
# ONCE into a VariantType column (compact binary encoding, field paths
# evaluated without re-parsing text per access) and aggregated through a
# typed variant_get. This is the forward-looking alternative to
# get_json_object flagged in SURVEY.md §1.2 — same answers, but at 100 TB
# the parse cost is paid once per row instead of once per extracted field,
# and the binary encoding columnar-compresses far better than JSON text.
# ---------------------------------------------------------------------------
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.count("k").alias("n_with_k"),
        )
    )


ORACLE_VARIANT_EXTRACT = """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       round(AVG(CAST(props->>'$.k' AS BIGINT)), 6) AS avg_k,
       COUNT(CAST(props->>'$.k' AS BIGINT)) AS n_with_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# S-family extension — interchange-format roundtrip (json lines + csv).
# The reference's only interchange is parquet; real ingest estates land
# events as JSONL or CSV first (sources/readers.py reads all three with
# explicit schemas — never inference). This grades that path end-to-end:
# the same rollup must come back from a JSONL tree, a CSV tree, and the
# parquet events table, byte-identically.
#
# Determinism across text formats: timestamps serialize as epoch MICROS
# (BIGINT — timezone- and format-proof) and `value` as its 1e-6
# fixed-point BIGINT, so every written cell is integer-or-string and the
# text roundtrip is exact by construction; doubles never meet a decimal
# formatter. Cross-format identity (json rollup == csv rollup) is
# asserted in-process; the oracle grades read-identity vs `events`.
# ---------------------------------------------------------------------------


def q_format_roundtrip(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> DataFrame:
    import os

    from .indexes import _scratch_root

    if work_dir is None:
        work_dir = os.path.join(_scratch_root(), "interchange")

    events = load_table(spark, sf_dir, "events")
    flat = events.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 1e6).cast("bigint").alias("vq"),
    )
    ddl = "event_id long, ts_us long, user_id long, event_type string, vq long"
    json_dir = os.path.join(work_dir, "jsonl")
    csv_dir = os.path.join(work_dir, "csv")
    flat.write.mode("overwrite").json(json_dir)
    flat.write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(csv_dir)

    def rollup(df: DataFrame) -> DataFrame:
        ts = F.timestamp_micros(F.col("ts_us"))
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("vq") / 1e6, 2).alias("sum_value"),
            F.min(ts).alias("min_ts"),
            F.max(ts).alias("max_ts"),
        )

    from_json = rollup(
        spark.read.schema(ddl).format("json").load(glob_escaped(json_dir))
    )
    from_csv = rollup(
        spark.read.schema(ddl)
        .format("csv")
        .option("header", "true")
        .option("escape", '"')
        .load(glob_escaped(csv_dir))
    )
    if from_json.exceptAll(from_csv).count() != 0 or from_csv.exceptAll(
        from_json
    ).count() != 0:
        raise AssertionError("json and csv roundtrips disagree")
    return from_json


ORACLE_FORMAT_ROUNDTRIP = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       round(SUM(CAST(round(value * 1e6) AS BIGINT)) / 1e6, 2) AS sum_value,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts
FROM events GROUP BY event_type
"""


QUERIES = {
    "q_scan_project": q_scan_project,
    "q_variant_extract": q_variant_extract,
    "q_filter_event_type": q_filter_event_type,
    "q_json_extract": q_json_extract,
    "q_custom_id_extract": q_custom_id_extract,
    "q_date_partition_agg": q_date_partition_agg,
    "q_token_rollup": q_token_rollup,
    "q_cost_attribution": q_cost_attribution,
    "q_status_summary": q_status_summary,
    "q_dedup_keep_last": q_dedup_keep_last,
    "q_anti_join_checkpoint": q_anti_join_checkpoint,
    "q_hierarchy_join": q_hierarchy_join,
    "q_union_dedup": q_union_dedup,
    "q_results_zip": q_results_zip,
    "q_topk": q_topk,
    "q_pricing_summary": q_pricing_summary,
    "q_revenue_by_nation": q_revenue_by_nation,
    "q_priority_rollup": q_priority_rollup,
    "q_sessionize": q_sessionize,
    "q_salted_rollup": q_salted_rollup,
    "q_format_roundtrip": q_format_roundtrip,
}

ORACLES = {
    "q_scan_project": ORACLE_SCAN_PROJECT,
    "q_filter_event_type": ORACLE_FILTER_EVENT_TYPE,
    "q_json_extract": ORACLE_JSON_EXTRACT,
    "q_variant_extract": ORACLE_VARIANT_EXTRACT,
    "q_custom_id_extract": ORACLE_CUSTOM_ID_EXTRACT,
    "q_date_partition_agg": ORACLE_DATE_PARTITION_AGG,
    "q_token_rollup": ORACLE_TOKEN_ROLLUP,
    "q_cost_attribution": _oracle_cost_attribution(),
    "q_status_summary": ORACLE_STATUS_SUMMARY,
    "q_dedup_keep_last": ORACLE_DEDUP_KEEP_LAST,
    "q_anti_join_checkpoint": ORACLE_ANTI_JOIN_CHECKPOINT,
    "q_hierarchy_join": ORACLE_HIERARCHY_JOIN,
    "q_union_dedup": ORACLE_UNION_DEDUP,
    "q_results_zip": ORACLE_RESULTS_ZIP,
    "q_topk": ORACLE_TOPK,
    "q_pricing_summary": ORACLE_PRICING_SUMMARY,
    "q_revenue_by_nation": ORACLE_REVENUE_BY_NATION,
    "q_priority_rollup": ORACLE_PRIORITY_ROLLUP,
    "q_sessionize": ORACLE_SESSIONIZE,
    "q_salted_rollup": ORACLE_SALTED_ROLLUP,
    "q_format_roundtrip": ORACLE_FORMAT_ROUNDTRIP,
}
