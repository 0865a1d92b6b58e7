"""Lakehouse table-management patterns: SCD2 dimension builds, Z-order
data layout, Bloom-filter runtime pruning, and skyline (Pareto) queries.

These are the table-maintenance / layout operations a 100 TB training
-data lake runs continuously (Delta/Iceberg OPTIMIZE ZORDER, dimension
conformance, runtime semi-join filters), expressed as pure Catalyst
plans over the fixture tables so every one is DuckDB-oracle checkable.

Reference basis: the reference stores its corpus in warehouse tables
and re-uploads full snapshots (data/ingestion.py:169 truncate+reload);
SCD2 and MERGE-style maintenance are what the same warehouse runs when
snapshots become incremental. The layout/pruning operators cover the
physical-design half the reference delegates to its warehouse engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import DUCK_TOKEN_HASH, token_hash
from ..registry import query
from ..sources import load_table

# ---------------------------------------------------------------------------
# SCD Type-2 dimension build (change tracking with validity intervals)
# ---------------------------------------------------------------------------


# One customer's order-priority history as SCD2 versions, rebuilt from
# the full orders table: the oracle of the full build, the incremental
# apply (operators below) and the streaming apply (streaming/stream.py).
SCD2_ORACLE = """
    WITH seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev_prio
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM seq
      WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
    )
    SELECT o_custkey,
           CAST(row_number() OVER w AS INTEGER) AS version,
           o_orderpriority AS priority,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w AS valid_to,
           (lead(o_orderdate) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, version
    """


@query(
    "orders_scd2_dimension",
    oracle=SCD2_ORACLE,
)
def orders_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build (Kimball): each customer's
    order-priority history collapses to versioned validity intervals —
    consecutive repeats merge, each change opens a new version row with
    ``valid_from``/``valid_to`` bounds and an ``is_current`` flag on the
    open interval. This is the MERGE-free, full-recompute SCD2 shape a
    lakehouse runs over an append-only changelog (the incremental twin
    is ``orders_merge_upsert``).

    Scale shape: two windows over the SAME (custkey) partitioning — one
    shuffle total; Catalyst reuses the sort for the lag-dedup and the
    renumber/lead pass. No joins, no driver state; at 100 TB the single
    hash partition exchange on the dimension key is the floor for any
    change-tracking build."""
    return scd2_build(load_table(spark, sf_dir, "orders")).orderBy(
        "o_custkey", "version"
    )


def scd2_build(orders: DataFrame) -> DataFrame:
    """Full SCD2 dimension from an order changelog — the shared core of
    ``orders_scd2_dimension`` (whole table), ``orders_scd2_incremental``
    (the pre-cut base), and ``stream_scd2_apply``'s initial state."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        orders.withColumn(
            "prev_prio", F.lag("o_orderpriority").over(w)
        )
        .filter(
            F.col("prev_prio").isNull()
            | (F.col("prev_prio") != F.col("o_orderpriority"))
        )
        .drop("prev_prio")
    )
    return changes.select(
        "o_custkey",
        F.row_number().over(w).cast("int").alias("version"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton curve) layout quality vs linear layout
# ---------------------------------------------------------------------------

Z_BITS = 8          # 8 bits per dimension -> 16-bit Morton code
Z_FILES = 32        # files per layout = top 5 bits of the code
_Z_DOM = 1 << Z_BITS


def _morton_sql(px: str, sx: str, intdiv: str) -> str:
    """Unrolled 2-D Morton interleave as pure integer arithmetic —
    identical in Spark SQL (`div`) and DuckDB (`//`), no engine bitops."""
    terms = []
    for b in range(Z_BITS):
        terms.append(
            f"(({px} {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}"
            f" + (({sx} {intdiv} {1 << b}) % 2) * {1 << (2 * b)}"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "lineitem_zorder_layout",
    oracle=f"""
    WITH keys AS (
      SELECT l_partkey % {_Z_DOM} AS px, l_suppkey % {_Z_DOM} AS sx
      FROM lineitem
    ),
    placed AS (
      SELECT px, sx,
             {_morton_sql('px', 'sx', '//')} // {(_Z_DOM * _Z_DOM) // Z_FILES}
               AS file_z,
             px // {_Z_DOM // Z_FILES} AS file_linear
      FROM keys
    ),
    u AS (
      SELECT 'zorder' AS layout, file_z AS file_id, px, sx FROM placed
      UNION ALL
      SELECT 'linear' AS layout, file_linear AS file_id, px, sx FROM placed
    ),
    files AS (
      SELECT layout, file_id,
             max(px) - min(px) + 1 AS span_px,
             max(sx) - min(sx) + 1 AS span_sx
      FROM u GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           round(sum(span_px) * 1.0 / count(*), 4) AS avg_px_span,
           round(sum(span_sx) * 1.0 / count(*), 4) AS avg_sx_span,
           round(sum(span_px) * 1.0 / {_Z_DOM}, 4) AS exp_files_point_px,
           round(sum(span_sx) * 1.0 / {_Z_DOM}, 4) AS exp_files_point_sx
    FROM files GROUP BY layout ORDER BY layout
    """,
)
def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout evaluation (Delta/Iceberg OPTIMIZE ZORDER): place
    each lineitem row into one of {Z_FILES} files either by Morton-
    interleaving (l_partkey, l_suppkey) low bits or linearly by partkey
    alone, then score both layouts by per-file min/max zone-map spans —
    ``exp_files_point_*`` is the expected number of files a point query
    on that column must scan (sum of span widths / domain). Z-order
    trades a little partkey locality for bounded spans on BOTH columns;
    linear layout leaves suppkey zone maps useless (full-domain spans).

    Scale shape: the Morton code is unrolled integer arithmetic in one
    projection (no UDF, no bitop portability risk); file stats are one
    hash aggregation on (layout, file_id) — {2 * Z_FILES} groups. At
    100 TB this is exactly the stats pass OPTIMIZE runs after a
    rewrite; the layout choice itself would be `repartitionByRange` on
    the Morton code."""
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(
        (F.col("l_partkey") % _Z_DOM).alias("px"),
        (F.col("l_suppkey") % _Z_DOM).alias("sx"),
    )
    placed = keys.select(
        "px",
        "sx",
        F.expr(
            f"{_morton_sql('px', 'sx', 'div')} div {(_Z_DOM * _Z_DOM) // Z_FILES}"
        ).alias("file_z"),
        F.expr(f"px div {_Z_DOM // Z_FILES}").alias("file_linear"),
    )
    u = placed.select(
        F.lit("zorder").alias("layout"), F.col("file_z").alias("file_id"), "px", "sx"
    ).unionByName(
        placed.select(
            F.lit("linear").alias("layout"),
            F.col("file_linear").alias("file_id"),
            "px",
            "sx",
        )
    )
    files = u.groupBy("layout", "file_id").agg(
        (F.max("px") - F.min("px") + 1).alias("span_px"),
        (F.max("sx") - F.min("sx") + 1).alias("span_sx"),
    )
    return (
        files.groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.round(F.sum("span_px") * 1.0 / F.count("*"), 4).alias("avg_px_span"),
            F.round(F.sum("span_sx") * 1.0 / F.count("*"), 4).alias("avg_sx_span"),
            F.round(F.sum("span_px") * 1.0 / _Z_DOM, 4).alias("exp_files_point_px"),
            F.round(F.sum("span_sx") * 1.0 / _Z_DOM, 4).alias("exp_files_point_sx"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Bloom-filter-pruned semi-join (explicit runtime filter)
# ---------------------------------------------------------------------------

BLOOM_M = 4096      # bits
BLOOM_K = 3         # hash functions
BLOOM_BAL_MIN = 5000.0
# observed-FPR envelope: false positives <= 10% of true negatives
BLOOM_FPR_PCT = 10


def _bloom_pos_duck(key_sql: str, j: int) -> str:
    h = DUCK_TOKEN_HASH.format(
        t=f"concat('bloom{j}|', CAST({key_sql} AS VARCHAR))"
    )
    return f"(({h}) % {BLOOM_M})"


def _bloom_pos_spark(key, j: int):
    return token_hash(
        F.concat(F.lit(f"bloom{j}|"), key.cast("string"))
    ) % BLOOM_M


@query(
    "supplier_bloom_semi_join",
    oracle=f"""
    WITH build AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal > {BLOOM_BAL_MIN}
    ),
    bits AS (
      SELECT DISTINCT pos FROM (
        {" UNION ALL ".join(
            f"SELECT {_bloom_pos_duck('s_suppkey', j)} AS pos FROM build"
            for j in range(BLOOM_K)
        )}
      )
    ),
    probe AS (SELECT DISTINCT l_suppkey FROM lineitem),
    probe_pos AS (
      SELECT l_suppkey, j, pos FROM (
        {" UNION ALL ".join(
            f"SELECT l_suppkey, {j} AS j, {_bloom_pos_duck('l_suppkey', j)} AS pos FROM probe"
            for j in range(BLOOM_K)
        )}
      )
    ),
    bloom_pass AS (
      SELECT l_suppkey FROM probe_pos JOIN bits USING (pos)
      GROUP BY l_suppkey HAVING count(DISTINCT j) = {BLOOM_K}
    ),
    flagged AS (
      SELECT p.l_suppkey,
             (b.s_suppkey IS NOT NULL) AS is_exact,
             (bp.l_suppkey IS NOT NULL) AS is_bloom
      FROM probe p
      LEFT JOIN build b ON b.s_suppkey = p.l_suppkey
      LEFT JOIN bloom_pass bp ON bp.l_suppkey = p.l_suppkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probe_keys,
           CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_keys,
           CAST(sum(CASE WHEN is_bloom THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass_keys,
           CAST(sum(CASE WHEN is_bloom AND NOT is_exact THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives,
           (sum(CASE WHEN is_exact AND NOT is_bloom THEN 1 ELSE 0 END) = 0)
             AS no_false_negatives,
           (sum(CASE WHEN is_bloom AND NOT is_exact THEN 1 ELSE 0 END) * 100
              <= {BLOOM_FPR_PCT} * sum(CASE WHEN NOT is_exact THEN 1 ELSE 0 END))
             AS fp_rate_ok
    FROM flagged
    """,
)
def supplier_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter runtime pruning (the shape behind Spark's
    own `spark.sql.optimizer.runtime.bloomFilter.enabled` and every
    warehouse's runtime semi-join filters): a {BLOOM_M}-bit / {BLOOM_K}
    -hash filter is built from the qualifying suppliers, probe keys keep
    only those whose {BLOOM_K} positions are all set, and the report
    checks the two properties that make Bloom pruning sound — ZERO false
    negatives (guaranteed, asserted as a column the oracle agrees is
    TRUE) and a bounded false-positive rate ({BLOOM_FPR_PCT}% envelope).
    Hash positions derive from the engine's shared sha scheme, so the
    filter contents are bit-identical in both engines.

    Scale shape: the filter is {BLOOM_K} narrow projections + DISTINCT
    over the (small) build side; the probe is an explode-to-positions
    broadcast join against the <= {BLOOM_M}-row bit set, then a
    count-per-key gate — the classic way to push a semi-join below a
    shuffle when the build side fits nowhere near a hash table of keys.
    At 100 TB the bit set (512 B here) ships to every executor for
    bytes, not gigabytes."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    build = sup.filter(F.col("s_acctbal") > BLOOM_BAL_MIN).select("s_suppkey")
    bits = None
    for j in range(BLOOM_K):
        part = build.select(
            _bloom_pos_spark(F.col("s_suppkey"), j).alias("pos")
        )
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()
    probe = li.select("l_suppkey").distinct()
    probe_pos = None
    for j in range(BLOOM_K):
        part = probe.select(
            "l_suppkey",
            F.lit(j).alias("j"),
            _bloom_pos_spark(F.col("l_suppkey"), j).alias("pos"),
        )
        probe_pos = part if probe_pos is None else probe_pos.unionByName(part)
    bloom_pass = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("l_suppkey")
        .agg(F.count_distinct("j").alias("nj"))
        .filter(F.col("nj") == BLOOM_K)
        .select("l_suppkey")
    )
    flagged = (
        probe.join(
            F.broadcast(build.withColumn("_e", F.lit(1))),
            probe.l_suppkey == F.col("s_suppkey"),
            "left",
        )
        .join(
            F.broadcast(
                bloom_pass.withColumn("_b", F.lit(1)).withColumnRenamed(
                    "l_suppkey", "_bk"
                )
            ),
            F.col("l_suppkey") == F.col("_bk"),
            "left",
        )
        .select(
            F.col("_e").isNotNull().alias("is_exact"),
            F.col("_b").isNotNull().alias("is_bloom"),
        )
    )
    n_build = build.agg(F.count("*").cast("bigint").alias("n_build_keys"))
    n_bits = bits.agg(F.count("*").cast("bigint").alias("n_bits_set"))
    fp = F.sum((F.col("is_bloom") & ~F.col("is_exact")).cast("long"))
    return (
        flagged.agg(
            F.count("*").cast("bigint").alias("n_probe_keys"),
            F.sum(F.col("is_exact").cast("long")).alias("n_exact_keys"),
            F.sum(F.col("is_bloom").cast("long")).alias("n_bloom_pass_keys"),
            fp.alias("n_false_positives"),
            (
                F.sum((F.col("is_exact") & ~F.col("is_bloom")).cast("long")) == 0
            ).alias("no_false_negatives"),
            (
                fp * 100
                <= BLOOM_FPR_PCT * F.sum((~F.col("is_exact")).cast("long"))
            ).alias("fp_rate_ok"),
        )
        .crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_build_keys",
            "n_bits_set",
            "n_probe_keys",
            "n_exact_keys",
            "n_bloom_pass_keys",
            "n_false_positives",
            "no_false_negatives",
            "fp_rate_ok",
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) without a quadratic dominance join
# ---------------------------------------------------------------------------


@query(
    "skyline_parts",
    oracle="""
    SELECT p.p_partkey, p.p_name, p.p_brand, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_size DESC, p.p_partkey
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (Börzsönyi et al., ICDE 2001):
    the parts no other part beats on BOTH cheaper price and larger size
    (with at least one strict). The oracle states it as the textbook
    NOT EXISTS dominance test — an O(n²) nested loop no 100 TB engine
    can run. The Spark plan decomposes it losslessly into two linear
    stages: (1) per-size minimum price (only a size's cheapest parts can
    survive — anything pricier is strictly dominated within its size
    group), then (2) a cumulative-min sweep over the <= |size domain|
    distinct (size, min_price) pairs ordered by size descending — a
    candidate survives iff no strictly larger size reached an equal or
    lower price. Price ties at the surviving (size, price) point are
    all mutually non-dominated and all kept, exactly matching the NOT
    EXISTS semantics.

    Scale shape: one hash aggregation on p_size (domain-bounded), one
    window over the tiny distinct-size relation, one broadcast join
    back — the quadratic dominance test never materializes. This is the
    standard sort-filter-skyline decomposition for a 2-D skyline."""
    part = load_table(spark, sf_dir, "part")
    w_size = W.partitionBy("p_size")
    phase1 = (
        part.withColumn("_minp", F.min("p_retailprice").over(w_size))
        .filter(F.col("p_retailprice") == F.col("_minp"))
        .drop("_minp")
    )
    frontier = (
        phase1.select("p_size", "p_retailprice")
        .distinct()
        .withColumn(
            "_cummin",
            F.min("p_retailprice").over(
                W.orderBy(F.desc("p_size")).rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
        )
        .filter(
            F.col("_cummin").isNull()
            | (F.col("_cummin") > F.col("p_retailprice"))
        )
        .select("p_size", "p_retailprice")
    )
    return (
        phase1.join(F.broadcast(frontier), ["p_size", "p_retailprice"])
        .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
        .orderBy(F.desc("p_size"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (OPTIMIZE bin-packing over a manifest)
# ---------------------------------------------------------------------------

COMPACT_TARGET_ROWS = 400   # target "file" size (rows stand in for bytes)


@query(
    "orders_compaction_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT o_orderdate AS day, COUNT(*) AS n_rows
      FROM orders GROUP BY o_orderdate
    ),
    small AS (
      SELECT day, n_rows,
             COALESCE(SUM(n_rows) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS csum
      FROM manifest WHERE n_rows < {COMPACT_TARGET_ROWS}
    ),
    binned AS (
      SELECT day, n_rows,
             CAST(floor(csum * 1.0 / {COMPACT_TARGET_ROWS}) AS BIGINT) AS bin_id
      FROM small
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           MIN(day) AS first_day,
           MAX(day) AS last_day
    FROM binned GROUP BY bin_id ORDER BY bin_id
    """,
)
def orders_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (Delta/Iceberg OPTIMIZE): the
    per-day order "files" below the {COMPACT_TARGET_ROWS}-row target are
    packed into day-contiguous rewrite bins by CUMULATIVE-QUOTA binning
    — bin k covers the files whose exclusive running total falls in
    [k*target, (k+1)*target), i.e. floor(exclusive-cumsum / target).
    Every bin spans < target + max_file_size rows and averages ~target;
    a single bin can dip below target when a file straddles its quota
    boundary (true next-fit — close-on-crossing — is an inherently
    sequential recurrence; the quota rule is its windowable
    approximation and preserves the property OPTIMIZE cares about:
    bounded bin size with sort-key contiguity). The plan is the REWRITE
    MANIFEST: each output row is one compacted file to write.

    Scale shape: planning is a window cumulative sum over the file
    MANIFEST (one row per file, millions of rows for a 100 TB table —
    trivially a single executor's work), never over the data; one
    window + one aggregation, nothing touches table rows."""
    orders = load_table(spark, sf_dir, "orders")
    manifest = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_rows")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    small = manifest.filter(F.col("n_rows") < COMPACT_TARGET_ROWS).withColumn(
        "csum", F.coalesce(F.sum("n_rows").over(w), F.lit(0))
    )
    binned = small.withColumn(
        "bin_id", F.floor(F.col("csum") / COMPACT_TARGET_ROWS).cast("bigint")
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .orderBy("bin_id")
    )


# ---------------------------------------------------------------------------
# Incremental SCD2 maintenance (delta-apply == full recompute, oracle-pinned)
# ---------------------------------------------------------------------------

SCD2_CUT = "1999-01-01"   # base = orders before the cut; delta = the rest


@query(
    "orders_scd2_incremental",
    # The oracle is the FULL-HISTORY recompute: the incremental plan is
    # correct iff delta-apply is indistinguishable from rebuilding the
    # dimension from scratch.
    oracle=SCD2_ORACLE,
)
def orders_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (the MERGE the full rebuild in
    ``orders_scd2_dimension`` amortizes away): the dimension built from
    orders before {SCD2_CUT} is brought up to date by applying only the
    post-cut delta — closed versions are IMMUTABLE and pass through
    untouched; each affected customer's OPEN version is re-derived
    together with its delta rows (seeded as a pseudo-row carrying the
    open version's priority and valid_from, keyed below any real order)
    and re-numbered at the customer's previous version offset; customers
    appearing only in the delta start fresh at version 1. The DuckDB
    oracle is the FULL recompute over all orders — the equivalence
    "delta-apply == rebuild" is exactly what the driver hash-checks.

    Scale shape: the delta pass touches |delta| + |affected customers|
    rows (the open-version seed join is a broadcast of the delta key
    set against the dimension scan); closed history — the overwhelming
    mass of a 100 TB dimension — is a pass-through scan with no window,
    no shuffle beyond the final union's presentation sort. This is the
    nightly-dimension-load pattern: the full-history window never runs
    again after the initial build."""
    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit(SCD2_CUT).cast("date")
    base = orders.filter(F.col("o_orderdate") < cut)
    delta = orders.filter(F.col("o_orderdate") >= cut)

    # the existing dimension (normally a stored table; derived here so
    # the query is self-contained and hermetic)
    dim = scd2_build(base)
    return scd2_apply_delta(dim, delta).orderBy("o_custkey", "version")


def scd2_apply_delta(dim: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply an order delta to an existing SCD2 dimension — the MERGE
    core shared by ``orders_scd2_incremental`` (one delta) and
    ``stream_scd2_apply`` (one delta per micro-batch via foreachBatch).
    Requires every delta order to be dated at or after the applied
    history (the append-only changelog contract); under that contract,
    applying deltas one batch at a time composes to the same dimension
    as one big apply — the streaming test pins it against the full
    rebuild."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    affected = delta.select("o_custkey").distinct()
    # r16 (guide §2.3/§2.4): the r9-r15 shape instantiated the dimension
    # subtree FOUR times (anti-join pass-through, closed-of-affected,
    # open rows, and the voffset broadcast) — four full scans of what is
    # the 100 TB relation here. Two remain, the structural minimum for
    # this merge: one pass-through scan that keeps every row except the
    # open versions of affected customers (one broadcast left join +
    # filter replaces the former anti-join + inner-join pair), and one
    # is_current-pruned scan for the open versions. The voffset no
    # longer needs its own dim instantiation at all: the seed row
    # CARRIES version-1 into the mini relation and a max() window over
    # the customer partition (same key as the lag/renumber windows —
    # zero extra exchange) propagates it to the customer's delta rows;
    # customers with no seed row are fresh and keep 0.
    untouched_and_closed = (
        dim.join(
            F.broadcast(affected.withColumn("_aff", F.lit(1))),
            "o_custkey",
            "left",
        )
        .filter(~(F.col("_aff").isNotNull() & F.col("is_current")))
        .drop("_aff")
    )
    open_rows = dim.filter(F.col("is_current")).join(
        F.broadcast(affected), "o_custkey"
    )

    # seed: the open version re-enters the change stream as a pseudo
    # order dated at its own valid_from, keyed below any real order
    seed = open_rows.select(
        "o_custkey",
        F.col("priority").alias("o_orderpriority"),
        F.col("valid_from").alias("o_orderdate"),
        F.lit(-1).cast("long").alias("o_orderkey"),
        (F.col("version") - 1).alias("voffset"),
    )
    delta_in = delta.select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.lit(0).cast(seed.schema["voffset"].dataType).alias("voffset"),
    )
    mini = seed.unionByName(delta_in).withColumn(
        # constant per customer: the seed row's version-1 when the
        # customer has history, 0 for fresh customers
        "voffset",
        F.max("voffset").over(W.partitionBy("o_custkey")),
    )
    mini_changes = (
        mini.withColumn("prev_prio", F.lag("o_orderpriority").over(w))
        .filter(
            F.col("prev_prio").isNull()
            | (F.col("prev_prio") != F.col("o_orderpriority"))
        )
        .drop("prev_prio")
    )
    reopened = mini_changes.select(
        "o_custkey",
        (F.row_number().over(w) + F.col("voffset")).cast("int").alias("version"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )
    return untouched_and_closed.unionByName(reopened).orderBy(
        "o_custkey", "version"
    )
