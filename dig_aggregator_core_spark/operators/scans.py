"""Source/sink round-trip operators (SURVEY.md §2.1): the reference's
glob-partitioned JSON ingest re-expressed Spark-native, partition-pruned
parquet sinks, and CSV/ORC format round-trips.

The reference's signature input pattern is a JSON scan over a partitioned
S3 glob with wildcard captures recovered from the path
(`frequencyAnalysis.py:24,109` — `variants/*/*/part-*`; capture semantics
`Glob.scala:53-58`, `Input.scala:58-62`). Here: `partitionBy` on write,
path-glob + `input_file_name()` + `regexp_extract` on read — the capture
comes out of the file path exactly as the reference's `Glob.unapplySeq`
extractor delivers it, but fully columnar.

Each query materializes the intermediate to scratch (overwrite — re-entrant)
then reads it back, so the scan path under test is real file I/O; the oracle
computes the same answer straight from the source table, proving the
round-trip faithful.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


def _scratch(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), "spark_graft_scratch", name)


@query(
    "scan_json_partitioned_glob",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def scan_json_partitioned_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4+P6: partitioned JSON write, then a path-glob JSON scan with the
    partition value recovered from the file path by regex capture — the
    reference's `variants/*/*/part-*` ingest with `Glob` captures
    (frequencyAnalysis.py:109, Glob.scala:53-58), columnar end to end."""
    path = _scratch("docs_json")
    docs = load(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").json(path)
    schema = "doc_id bigint, text string, source string, n_chars bigint"
    scanned = (
        spark.read.schema(schema)
        .json(f"{path}/lang=*/part-*")
        .withColumn(
            "lang",
            F.regexp_extract(F.input_file_name(), "lang=([^/]+)/", 1),
        )
    )
    return scanned.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "sink_partition_pruning",
    oracle="""
    SELECT l_linestatus AS linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total_price
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def sink_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: hive-partitioned parquet sink, read back with a partition-key
    filter — the scan touches only the `l_returnflag=R` directory
    (partition pruning; at 100 TB this is the difference between reading
    one partition and the whole table)."""
    path = _scratch("lineitem_by_flag")
    li = load(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    scanned = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return scanned.groupBy(F.col("l_linestatus").alias("linestatus")).agg(
        F.count("*").alias("n_items"),
        # exact cents on the 2-status key (lifted r9)
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("total_price"),
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + CSV GAP: header CSV sink then schema'd CSV scan (no inference —
    SURVEY.md §7 hard part (e): explicit schemas everywhere)."""
    path = _scratch("orders_csv")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").option("header", True).csv(path)
    scanned = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).option("header", True).csv(path)
    return scanned.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"),
        # exact cents on the 3-status key (lifted r9)
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("total"),
    )


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(p_retailprice), 4) AS avg_price
    FROM part GROUP BY p_brand
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC GAP row: columnar round-trip through ORC (Avro would need the
    external spark-avro package, not available offline — same API shape)."""
    path = _scratch("part_orc")
    p = load(spark, sf_dir, "part")
    p.write.mode("overwrite").orc(path)
    scanned = spark.read.orc(path)
    return scanned.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count("*").alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@query(
    "scan_dpp_partitioned_join",
    oracle="""
    SELECT cls, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM orders
    JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot')) AS dim(prio, cls)
      ON o_orderpriority = prio
    GROUP BY cls
    """,
)
def scan_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact is hive-partitioned on the join
    key; joining a filtered dim makes Catalyst inject a runtime
    `dynamicpruning` subquery into the fact scan, so only the dim-selected
    partition directories are read — no static filter on the fact anywhere
    in this query. At 100 TB this is the difference between scanning 2 of
    5 partitions and all of them. (`.explain` shows
    `PartitionFilters: [dynamicpruningexpression(...)]`.)"""
    path = _scratch("orders_by_priority")
    load(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    fact = spark.read.parquet(path)
    # the selective predicate on the dim side is what makes Catalyst plant
    # the dynamic-pruning subquery into the fact's partition filters
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "cold"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, cls string",
    ).filter(F.col("cls") == "hot")
    return (
        fact.join(F.broadcast(dim), fact.o_orderpriority == dim.prio)
        .groupBy("cls")
        .agg(
            F.count("*").alias("n"),
            # exact cents on the 1-class key (lifted r9)
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
                " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
            ).alias("total"),
        )
    )


@query(
    "scan_merge_schema_evolution",
    oracle="""
    SELECT era, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(sz) AS BIGINT) AS n_with_size
    FROM (
      SELECT 'v1' AS era, p_partkey, NULL AS sz
      FROM part WHERE p_partkey % 2 = 0
      UNION ALL
      SELECT 'v2', p_partkey, p_size
      FROM part WHERE p_partkey % 2 = 1
    )
    GROUP BY era
    """,
)
def scan_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across partitioned files: epoch v1 wrote (era, key),
    epoch v2 added a column — `mergeSchema=true` reconciles them at scan
    time, NULL-filling v1 rows. The survival skill for multi-year datasets
    where old files are never rewritten (SURVEY.md §1.2's schema-merging
    ingest, but with declared per-epoch schemas instead of inference)."""
    path = _scratch("part_evolving")
    part = load(spark, sf_dir, "part")
    part.filter(F.col("p_partkey") % 2 == 0).select(
        F.lit("v1").alias("era"), "p_partkey"
    ).write.mode("overwrite").parquet(path + "/era=v1_files")
    part.filter(F.col("p_partkey") % 2 == 1).select(
        F.lit("v2").alias("era"), "p_partkey", F.col("p_size").alias("sz")
    ).write.mode("overwrite").parquet(path + "/era=v2_files")
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/era=v1_files", path + "/era=v2_files"
    )
    return merged.groupBy("era").agg(
        F.count("*").alias("n"), F.count("sz").alias("n_with_size")
    )


@query(
    "join_cross_product",
    oracle="""
    SELECT r_name AS region, n_name AS nation
    FROM region CROSS JOIN nation
    """,
)
def join_cross_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product (BroadcastNestedLoopJoin): legitimate
    only when one side is tiny — Spark requires the explicit crossJoin
    call precisely because an accidental one at fact scale is fatal."""
    region = load(spark, sf_dir, "region").select(F.col("r_name").alias("region"))
    nation = load(spark, sf_dir, "nation").select(F.col("n_name").alias("nation"))
    return region.crossJoin(F.broadcast(nation))


@query(
    "sink_compacted_write",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 4) AS total_qty,
           TRUE AS files_ok
    FROM lineitem
    """,
)
def sink_compacted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction sink: rewrite a table into range-partitioned
    parquet with a bounded per-file record count, then prove the layout
    from the read-back side (`input_file_name` distinct count inside the
    expected band) alongside content equality.

    The small-files problem is THE operational failure mode of long-lived
    100 TB ingest: thousands of tiny appended files destroy scan
    throughput (per-file open cost) and executor memory (footer caching).
    The fix shape is exactly this — `repartitionByRange` on the sort key
    (clusters + keeps min/max parquet stats tight for data skipping) plus
    `maxRecordsPerFile` as the hard upper bound so one skewed range can't
    produce a monster file. 4 range buckets x ~2 files each here; at real
    scale the bucket count is sized so each file lands near the HDFS/S3
    sweet spot (~128-512 MB), and the same two knobs are the whole story.
    """
    path = _scratch("lineitem_compacted")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    n_rows = li.count()  # metadata-cheap at any scale (parquet row counts)
    per_file = max(1, -(-n_rows // 8))  # ceil: ~8 files total target
    (
        li.repartitionByRange(4, "l_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", per_file)
        .parquet(path)
    )
    # non-deterministic exprs can't sit inside an aggregate — project the
    # file name as a plain column first
    back = spark.read.parquet(path).withColumn(
        "fname", F.expr("input_file_name()")
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        # range partitioner boundaries come from sampling, so the exact
        # file count may wobble by a file or two around 8 — the band
        # still catches both failure modes (1 giant file / per-row files)
        F.count_distinct("fname").between(4, 12).alias("files_ok"),
    )


def _morton16(x: str, y: str) -> str:
    """SQL for a 16-bit Morton (z-order) code interleaving two 8-bit
    bucket ids — identical text works in Spark SQL and DuckDB, so the
    oracle shares it verbatim."""
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_Z_EXPR = _morton16("(l_orderkey % 256)", "(l_partkey % 256)")

_ZORDER_ORACLE = f"""
SELECT CAST({_Z_EXPR} AS BIGINT) AS zkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(l_orderkey % 256) AS BIGINT) AS min_x,
       CAST(MAX(l_partkey % 256) AS BIGINT) AS max_y
FROM lineitem
WHERE (l_orderkey % 256) < 16 AND (l_partkey % 256) < 16
GROUP BY 1
"""


@query("layout_zorder_key", oracle=_ZORDER_ORACLE)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the bits of two bucket
    ids so points close in BOTH dimensions get close key values. Sorting
    or range-partitioning the table by this key keeps parquet min/max
    stats tight in both columns at once, so a 2-D box predicate prunes
    row groups on either column — single-column sort only ever prunes one.
    The query groups a 16x16 query box by zkey: every group's rows share
    one interleaved key, which the shared-SQL oracle pins bit-for-bit.

    Pure integer bit arithmetic (shift/and/or) — whole-stage codegen, no
    UDF; compose with sink_compacted_write's repartitionByRange(zkey) for
    the full write path. 8 bits/dim is the sweet spot for 256-file
    layouts; widen to 16 bits/dim for finer clustering the same way.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.withColumn("x", F.expr("l_orderkey % 256"))
        .withColumn("y", F.expr("l_partkey % 256"))
        .filter((F.col("x") < 16) & (F.col("y") < 16))
        .groupBy(
            F.expr(_morton16("x", "y")).cast("bigint").alias("zkey")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("x").cast("bigint").alias("min_x"),
            F.max("y").cast("bigint").alias("max_y"),
        )
    )


@query(
    "sink_bucketed_partitioned_write",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1
    """,
)
def sink_bucketed_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned + bucketed + sorted parquet write — the write-side twin
    of join_bucketed_colocated, and the structured form of the reference's
    naive partitioned sink (Outputs/partition layout, SURVEY §2.1 S5):
    lineitem lands `partitionBy(l_returnflag).bucketBy(8, l_orderkey)
    .sortBy(l_orderkey)`, orders lands bucketed the same 8 ways on its key.

    The layout buys three things at 100 TB, all visible in this one plan:
    (1) PARTITION PRUNING — the re-read filters l_returnflag = 'R' and the
    scan lists only that directory (PartitionFilters in the plan, 2 of 3
    partitions never opened); (2) ZERO-EXCHANGE JOIN — both scans report
    the same bucketing on the join key, so the SortMergeJoin runs with NO
    shuffle of either fact table (the ingest-time shuffle is paid once,
    every downstream join rides it); (3) SORTED BUCKETS — sortBy keeps
    each bucket file internally ordered, tightening parquet min/max stats
    on the join key for row-group skipping. The plan pin
    (tests/test_plans.py) asserts zero Exchange and the partition filter.
    """
    wh = os.path.join(tempfile.gettempdir(), "spark_graft_scratch", "bktpart")
    l_tbl, o_tbl = "graft_lineitem_bp", "graft_orders_bp"
    for tbl in (l_tbl, o_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    def _write_lineitem() -> None:
        (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_returnflag")
            .write.mode("overwrite")
            .option("path", f"{wh}/lineitem_bp")
            .partitionBy("l_returnflag")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(l_tbl)
        )

    def _write_orders() -> None:
        (
            load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite")
            .option("path", f"{wh}/orders_bp")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(o_tbl)
        )

    # the two ingest writes are independent — submit them concurrently so
    # the orders write back-fills the lineitem write's task tail (guide
    # §2.6 overlap independent jobs); the join below starts only after
    # both futures complete, so results are unchanged
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_write_lineitem), pool.submit(_write_orders)]
        for f in futs:
            f.result()
    li = spark.table(l_tbl).filter(F.col("l_returnflag") == "R")
    o = spark.table(o_tbl)
    # merge hint pins SMJ (the fixture-sized side would broadcast), so the
    # plan exhibits the production shape: SMJ over two Bucketed:true scans
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_items"),
            # exact cents on the 5-priority key (lifted r9)
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS"
                " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
            ).alias("total"),
        )
    )


# The oracle recomputes each file's (name, byte-length, md5) straight from
# the documents table: the fixture bytes ARE the UTF-8 text, so this stays
# correct regardless of execution order, process tempdir, or a stale
# scratch directory from a different-SF run (the old read_blob oracle only
# worked if the Spark query had just written the files in this process).
_BINARYFILE_ORACLE = """
SELECT 'doc_' || doc_id || '.bin' AS fname,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id % 100 = 0
"""


def _bin_file_writer(path: str):
    """Executor-side writer for the binaryFile fixture: one .bin per row,
    written by the task that owns the partition (names are unique per
    doc_id, so concurrent tasks never collide)."""

    def write(rows) -> None:
        import os as _os

        _os.makedirs(path, exist_ok=True)
        for r in rows:
            with open(
                _os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb"
            ) as f:
                f.write(bytes(r["payload"]))

    return write


@query("scan_binaryfile_ingest", oracle=_BINARYFILE_ORACLE)
def scan_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingest via the `binaryFile` source: each file becomes one
    row (path, modificationTime, length, content) — the entry point for
    multimodal corpora (images/audio/video land as whole-file blobs and
    flow into the mapInPandas decode ops, operators/multimodal.py). The
    scan never parses content JVM-side: column pruning means a
    metadata-only query (paths + sizes) reads no bytes at all, and
    `pathGlobFilter` prunes by extension before any read.

    The fixture derives deterministic .bin files from the documents
    table, scans them back, and emits per-file name/size/md5. The oracle
    recomputes the same triple from the documents table (the file bytes
    are exactly the UTF-8 text), so it is independent of the scratch
    directory and of query/oracle execution order.

    Scale: one row per file caps at `maxPartitionBytes` per task;
    binaryFile is for whole-file assets (the 100 TB video case shards
    fine — files are the natural unit); for many tiny files, compact
    into parquet binary columns first (mm_binary_meta).
    """
    path = _scratch("binary_assets")
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    # re-entrant: clear stale assets from a previous (different-SF) run —
    # the scan reads the whole directory, so leftovers would change rows
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    # write one .bin per doc DISTRIBUTED (foreachPartition: each task
    # writes its own partition's files) — no driver-side collect in the
    # query path; on a real cluster `path` would be shared storage.
    docs.foreachPartition(_bin_file_writer(path))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
    )
    return scanned.select(
        F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


_PYDS_ROWS, _PYDS_PARTS = 2000, 8

_PYDS_ORACLE = f"""
SELECT CAST(rid % {_PYDS_PARTS} AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM((rid * 7919 % 1000) / 1000.0), 6) AS total_score
FROM (SELECT CAST(range AS BIGINT) AS rid FROM range({_PYDS_ROWS}))
GROUP BY 1
"""


@query("scan_python_datasource", oracle=_PYDS_ORACLE)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Python DataSource API (Spark 4): a
    user-defined source declares its schema, plans its own input
    partitions, and streams rows per partition on executors — the modern
    way to wire an in-house system (feature store, crawl frontier,
    internal queue) into Spark without a JVM connector. The deterministic
    generator here stands in for the external system; `partitions()` IS
    the connector's shard enumeration (8 splits → 8 parallel tasks), and
    the oracle recomputes the generator's closed form.

    Scale: reads parallelize across the planned partitions exactly like
    any V2 connector; per-partition `read()` is a Python generator
    batched through Arrow. Pushdown stays Spark-side (filter after scan)
    unless the source implements it — which is the right default for a
    first integration.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("rows", "1000"))
            self.parts = int(options.get("parts", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            shard = partition.value
            for rid in range(shard, self.n, self.parts):
                yield rid, shard, (rid * 7919 % 1000) / 1000.0

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "synth_shards"

        def schema(self):
            return "rid bigint, shard int, score double"

        def reader(self, schema):
            return SynthReader(self.options)

    spark.dataSource.register(SynthSource)
    df = (
        spark.read.format("synth_shards")
        .option("rows", str(_PYDS_ROWS))
        .option("parts", str(_PYDS_PARTS))
        .load()
    )
    return df.groupBy("shard").agg(
        F.count("*").alias("n"),
        F.round(F.sum("score"), 6).alias("total_score"),
    )


_CORRUPT_ORACLE = """
SELECT CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS good_chars
FROM documents
"""


@query("scan_jsonl_corrupt_recovery", oracle=_CORRUPT_ORACLE)
def scan_jsonl_corrupt_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant JSONL ingest: PERMISSIVE-mode parsing with a
    columnNameOfCorruptRecord column, the production posture for raw
    crawl/log JSON where some fraction of lines is always mangled — the
    job must quarantine bad lines into the corrupt column and keep
    going, never FAILFAST-abort a 100 TB read for one truncated record
    (and never silently DROPMALFORMED them: the corrupt count is a
    data-quality metric someone alerts on).

    The fixture derives a JSONL from the documents table with every
    doc_id % 7 == 0 line deliberately truncated (closing brace cut), so
    the expected good/corrupt split is recomputable exactly from the
    source table — same oracle independence as scan_binaryfile_ingest.
    The scratch write is a distributed df.write.text; the scan under
    test reads it back with an explicit schema (schema inference would
    scan twice at 100 TB) and aggregates good rows, corrupt rows, and a
    checksum-ish payload sum that proves good-row fields parse intact."""
    path = _scratch("jsonl_corrupt")
    docs = load(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 7 == 0,
            # cut the closing brace -> malformed JSON line
            F.expr(
                "substring(to_json(named_struct("
                " 'doc_id', doc_id, 'n_chars', n_chars)), 1,"
                " length(to_json(named_struct("
                " 'doc_id', doc_id, 'n_chars', n_chars))) - 1)"
            ),
        )
        .otherwise(
            F.to_json(F.struct("doc_id", "n_chars"))
        )
        .alias("value")
    )
    docs.write.mode("overwrite").text(path)
    scanned = (
        spark.read.schema(
            "doc_id bigint, n_chars bigint, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return scanned.agg(
        F.sum(F.col("_bad").isNull().cast("int"))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.col("_bad").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("good_chars"),
    )


# the writer schema as Avro JSON text (parsed where the files are
# written); the ["null", string] union exercises the optional-branch
# encoding
_AVRO_SCHEMA = """{
    "type": "record",
    "name": "orders_row",
    "fields": [
        {"name": "o_orderkey", "type": "long"},
        {"name": "o_custkey", "type": "long"},
        {"name": "o_orderpriority", "type": "string"},
        {"name": "o_totalprice", "type": "double"},
        {"name": "opt_status", "type": ["null", "string"]}
    ]
}"""


@query(
    "scan_avro_roundtrip",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT))
                      AS DOUBLE) / 100, 4) AS total,
           CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_status
    FROM orders GROUP BY 1
    """,
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro scan + sink WITHOUT the spark-avro connector jar (absent in
    this environment, no network — the one §2.1 row previously
    environment-blocked): sources/avroio.py implements the Avro object
    container spec in pure Python, and this op drives both halves
    end-to-end — orders write out as Avro via a foreachPartition
    executor-side sink (one container file per partition, deflate
    codec), then read back through the ``graftavro`` Python DataSource,
    whose ``partitions()`` enumerates per-file BLOCK ranges (the driver
    indexes the ~20-byte block headers and seeks past payloads — the
    same split role Hadoop's sync-marker scan plays), so a many-block
    file scans in parallel.

    Wire-format correctness is pinned two ways: this oracle (values
    survive the full write->read loop bit-for-bit) and
    tests/test_avro_interop.py, which round-trips files in BOTH
    directions against the Apache Avro core Java library Spark bundles
    (avro-1.12.1.jar via py4j) — files this codec writes are read by
    ``org.apache.avro.file.DataFileReader`` and vice versa, null and
    deflate codecs, multi-block layout, ["null",string] unions."""
    import json

    from ..sources.avroio import make_avro_datasource, write_avro_partitioned

    out = _scratch(f"avro_roundtrip_{os.path.basename(sf_dir.rstrip('/'))}")
    shutil.rmtree(out, ignore_errors=True)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderstatus"))
        .alias("opt_status"),
    )
    write_avro_partitioned(
        src, out, json.loads(_AVRO_SCHEMA), codec="deflate"
    )
    spark.dataSource.register(make_avro_datasource())
    back = (
        spark.read.format("graftavro")
        .option("path", out)
        .option("blocksPerSplit", "2")
        .load()
    )
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        # exact cents on the 5-priority key (lifted r9)
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS"
            " DECIMAL(38,0))) AS DOUBLE) / 100, 4)"
        ).alias("total"),
        F.count("opt_status").cast("bigint").alias("n_status"),
    )


# The driver contract fixes oracle evaluation at sf=0.01 (views and all),
# so the footer path is bound to that dir — the one oracle in the repo
# that reads a FILE rather than a view, because parquet_metadata() is the
# point: footer-vs-footer parity with pyarrow.
_FOOTER_ORACLE = """
SELECT CAST(row_group_id AS BIGINT) AS row_group,
       CAST(row_group_num_rows AS BIGINT) AS num_rows,
       CAST(stats_min_value AS BIGINT) AS n_chars_min,
       CAST(stats_max_value AS BIGINT) AS n_chars_max,
       CAST(stats_null_count AS BIGINT) AS n_nulls
FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
WHERE path_in_schema = 'n_chars'
"""


@query("scan_parquet_footer_stats", oracle=_FOOTER_ORACLE)
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group statistics from the parquet FOOTER ONLY — the metadata
    every pushed-down filter is answered from: a predicate like
    n_chars > 600 skips any row group whose (min, max) excludes it
    before a single data page is read, and THIS op is how an operator
    audits whether its layout actually enables that skipping (write
    paths that sort or z-order — layout_zorder_key,
    sink_bucketed_partitioned_write — exist to tighten exactly these
    min/max bands). Emits per row group: row count, n_chars min/max,
    null count.

    Execution: pyarrow reads ONLY the footer on the driver (a few KB
    regardless of data size — the same asymmetry the planner exploits);
    the row-group table is metadata-sized by definition (one row per
    ~128 MB of data ⇒ ~800 rows per 100 GB file), so
    spark.createDataFrame on it is the documented metadata-collect
    class, never a corpus collect. The DuckDB oracle reads the SAME
    footer via parquet_metadata(), so the check verifies true
    footer-vs-footer parity (and, transitively, that the stats match
    the data DuckDB scans elsewhere).

    Reference analog: the reference's S3 listing/manifest layer
    (Input/Source listing, SURVEY.md §2.1 S1) extended to statistics-
    bearing manifests.
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata
    col_idx = {
        md.schema.column(i).name: i for i in range(md.num_columns)
    }["n_chars"]
    rows = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        st = g.column(col_idx).statistics
        rows.append(
            (
                rg,
                g.num_rows,
                int(st.min) if st is not None else None,
                int(st.max) if st is not None else None,
                int(st.null_count) if st is not None else None,
            )
        )
    return spark.createDataFrame(
        rows,
        schema=(
            "row_group long, num_rows long, n_chars_min long,"
            " n_chars_max long, n_nulls long"
        ),
    )


_TEXT_ORACLE = """
WITH lines AS (
  SELECT CAST(doc_id AS VARCHAR) || '\t' || source || '\t'
           || replace(replace(text, chr(10), ' '), chr(13), ' ') AS line
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(length(line)) AS BIGINT) AS total_chars,
       md5(array_to_string(list_sort(list(md5(line))), '')) AS corpus_digest
FROM lines
"""


@query("scan_text_lines_roundtrip", oracle=_TEXT_ORACLE)
def scan_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line format round-trip — the LAST Spark-bundled file
    format without a registered roundtrip (CSV/ORC/JSON/parquet/binary/
    Avro-via-graftavro all have one): documents serialize to one
    newline-delimited line each (tab-joined id/source/text, embedded
    newlines flattened — the format's one invariant), write through the
    text sink, scan back with spark.read.text, and reduce to an
    order-insensitive corpus digest. If the sink or scan drops, splits,
    or mangles ONE line, the digest moves — the oracle computes the same
    digest straight from the table, so the parquet→text→scan path is
    hash-verified end to end. Text is the interchange format for
    tokenizer training corpora and classic-NLP tooling, hence worth its
    own verified path.

    Exactness: the digest is md5 over the SORTED per-line md5s
    (order-insensitive — text files have no row order contract after a
    distributed write), all computed with the module-standard md5
    device on both engines.

    Scale: the sink writes per-partition (no coalesce); the scan is a
    whole-stage-codegen line reader; the reduction is one map-side
    collected agg. Reference analog: the reference's raw part-file
    outputs (S5 partitioned sink, SURVEY.md §2.1) in their text form.
    """
    path = _scratch("docs_text")
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            "source",
            F.regexp_replace(
                F.regexp_replace("text", "\n", " "), "\r", " "
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    scanned = spark.read.text(path)
    return scanned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list(F.md5("value"))), "")
        ).alias("corpus_digest"),
    )


_EXPORT_SHARDS = 8

_EXPORT_MANIFEST_ORACLE = f"""
WITH assigned AS (
  SELECT CAST(doc_id % {_EXPORT_SHARDS} AS INT) AS shard,
         doc_id, text, lang, n_chars
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_digest
FROM assigned GROUP BY shard
"""


@query("sink_sharded_jsonl_manifest", oracle=_EXPORT_MANIFEST_ORACLE)
def sink_sharded_jsonl_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data EXPORT sink (r9 new capability): the corpus leaves
    the lake as hive-sharded JSONL — the handoff format every training
    stack ingests — plus a per-shard MANIFEST the consumer can verify
    receipt against: doc/token/char counts, id range, and an
    order-insensitive-to-write-layout content digest (md5 over the
    doc-id-ordered per-doc text md5s).

    The op is a genuine round trip: shard = doc_id % {{n}} (append-stable,
    engine-portable), `partitionBy(shard).json(...)` writes real JSONL
    shard directories, the manifest is computed from the READ-BACK rows
    — so a serialization bug, a dropped row, or text mangled by JSON
    escaping all change the digest, and the oracle recomputes everything
    from the source table. At 100 TB each shard directory is written by
    the tasks owning its rows (no global sort), the manifest aggregate is
    {{n}} rows, and a consumer re-derives the digest shard-by-shard in
    O(shard) memory.
    """
    path = _scratch("docs_export_jsonl")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.col("doc_id") % _EXPORT_SHARDS).cast("int").alias("shard"),
    )
    docs.write.mode("overwrite").partitionBy("shard").json(path)
    back = spark.read.schema(
        "doc_id bigint, text string, lang string, n_chars bigint, shard int"
    ).json(path)
    per_doc = back.select(
        "shard", "doc_id", "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("doc_md5"),
    )
    return per_doc.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.md5(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(doc_id,"
                    " doc_md5))), x -> x.doc_md5)"
                ),
            )
        ).alias("content_digest"),
    )


_WDS_ORACLE = f"""
WITH assigned AS (
  SELECT CAST(doc_id % {_EXPORT_SHARDS} AS INT) AS shard, doc_id, text
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(strlen(text)) AS BIGINT) AS txt_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS min_key,
       CAST(MAX(doc_id) AS BIGINT) AS max_key,
       md5(string_agg(md5(text), '' ORDER BY doc_id)) AS content_digest
FROM assigned GROUP BY shard
"""


@query("sink_webdataset_shards", oracle=_WDS_ORACLE)
def sink_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar-shard EXPORT (the multimodal-training
    handoff format: one `shard-NNNNNN.tar` per shard, each sample a
    `{{key}}.txt` payload + `{{key}}.json` metadata member, cf.
    webdataset/webdataset's spec): shard = doc_id % {n} (append-stable),
    each shard's tar written by the ONE task owning its co-located rows
    (repartition on the shard key -> applyInPandas), members in doc_id
    order with zeroed uid/gid/mtime USTAR headers so the tar BYTES are
    deterministic — re-exporting an unchanged corpus produces
    byte-identical shards (pinned in tests/test_webdataset.py).

    The registered manifest is computed from a genuine READ-BACK: a
    binaryFile scan of the tars -> mapInPandas tar parse -> per-member
    md5 -> per-shard counts/range/digest, so a packing bug, a dropped
    member, or any byte mangling diverges from the oracle, which
    recomputes the digest straight from the source table.

    Scale: a real corpus uses width = corpus_bytes / ~1 GB shards (the
    knob is the modulus); every stage is one task per shard with O(1)
    driver state — the collect that forces the write returns exactly
    one row per shard (metadata-sized). Local-FS paths stand in for the
    object-store client a cluster deployment hands the task."""
    import hashlib
    import io
    import json
    import tarfile

    import pandas as pd

    path = _scratch("docs_webdataset")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.col("doc_id") % _EXPORT_SHARDS).cast("int").alias("shard"),
    )

    def write_tar(key, pdf):
        shard = int(key[0])
        pdf = pdf.sort_values("doc_id")
        out = os.path.join(path, "shard-%06d.tar" % shard)
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for r in pdf.itertuples():
                for ext, payload in (
                    ("txt", str(r.text).encode("utf-8")),
                    (
                        "json",
                        json.dumps(
                            {
                                "doc_id": int(r.doc_id),
                                "lang": str(r.lang),
                                "n_chars": int(r.n_chars),
                            },
                            sort_keys=True,
                            separators=(",", ":"),
                        ).encode("utf-8"),
                    ),
                ):
                    ti = tarfile.TarInfo("%012d.%s" % (int(r.doc_id), ext))
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.mode = 0o644
                    ti.uid = ti.gid = 0
                    ti.uname = ti.gname = ""
                    tf.addfile(ti, io.BytesIO(payload))
        data = buf.getvalue()
        with open(out, "wb") as fh:
            fh.write(data)
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "n_written": len(pdf),
                    "tar_md5": hashlib.md5(data).hexdigest(),
                }
            ]
        )

    written = (
        docs.repartition(_EXPORT_SHARDS, "shard")
        .groupBy("shard")
        .applyInPandas(
            write_tar, "shard int, n_written bigint, tar_md5 string"
        )
    )
    written.collect()  # force the export; one row per shard

    back = spark.read.format("binaryFile").load(
        os.path.join(path, "*.tar")
    )

    def parse_tars(it):
        for pdf in it:
            rows = []
            for content in pdf["content"]:
                with tarfile.open(
                    fileobj=io.BytesIO(content), mode="r"
                ) as tf:
                    for m in tf.getmembers():
                        if not m.name.endswith(".txt"):
                            continue
                        key = int(m.name[: -len(".txt")])
                        payload = tf.extractfile(m).read()
                        rows.append(
                            {
                                "shard": key % _EXPORT_SHARDS,
                                "key": key,
                                "txt_md5": hashlib.md5(
                                    payload
                                ).hexdigest(),
                                "txt_bytes": len(payload),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["shard", "key", "txt_md5", "txt_bytes"],
            )

    per = back.mapInPandas(
        parse_tars, "shard int, key bigint, txt_md5 string, txt_bytes bigint"
    )
    return per.groupBy("shard").agg(
        F.count("*").alias("n_samples"),
        F.sum("txt_bytes").alias("txt_bytes"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.md5(
            F.concat_ws(
                "",
                F.expr(
                    "transform(array_sort(collect_list(struct(key,"
                    " txt_md5))), x -> x.txt_md5)"
                ),
            )
        ).alias("content_digest"),
    )


sink_webdataset_shards.__doc__ = sink_webdataset_shards.__doc__.format(
    n=_EXPORT_SHARDS
)


# ------------------------------------------------ JDBC modality (Derby)


@query(
    "scan_jdbc_roundtrip",
    oracle="""
    SELECT r_name AS region, CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def scan_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC scan/sink (VERDICT r9 task 3) — the reference ledger's
    NATIVE storage modality is a database over JDBC (reference
    Db.scala:53; runs.sql:1-12): sink the nation dimension into an
    embedded-Derby database via df.write.jdbc, read it back as a
    PARTITIONED jdbc scan — 4 range-bounded parallel connections on
    n_nationkey, the shape that keeps a database read from collapsing
    into a one-task stage at scale — then broadcast-join the region dim
    and aggregate. Derby ships on Spark's classpath here; a
    MySQL/Postgres deployment changes only url + driver options."""
    from ..sources.jdbcio import (
        derby_url,
        read_jdbc,
        scratch_db,
        write_jdbc,
    )

    url = derby_url(scratch_db("db"))
    nation = load(spark, sf_dir, "nation")
    # metadata-sized dim: one writer connection is right; a fact-table
    # sink would instead keep its partition fan-out
    write_jdbc(nation.coalesce(1), url, '"nation_jdbc"', mode="overwrite")
    back = read_jdbc(
        spark,
        url,
        '"nation_jdbc"',
        partition_column="n_nationkey",
        lower=0,
        upper=25,
        num_partitions=4,
    )
    region = load(spark, sf_dir, "region")
    return (
        back.join(
            F.broadcast(region),
            back["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_nation"),
        )
    )


@query(
    "jdbc_merge_upsert",
    oracle="""
    WITH base AS (
      SELECT s_suppkey, s_nationkey,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
      FROM supplier
    ),
    updates AS (
      SELECT s_suppkey, s_nationkey, acctbal_cents * 2 AS acctbal_cents
      FROM base WHERE s_suppkey % 3 = 0
      UNION ALL
      SELECT s_suppkey + 1000000 AS s_suppkey, s_nationkey,
             acctbal_cents + 7 AS acctbal_cents
      FROM base WHERE s_suppkey % 5 = 0
    ),
    merged AS (
      SELECT b.s_suppkey, b.s_nationkey, b.acctbal_cents FROM base b
      WHERE b.s_suppkey NOT IN (SELECT s_suppkey FROM updates)
      UNION ALL
      SELECT s_suppkey, s_nationkey, acctbal_cents FROM updates
    )
    SELECT s_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(acctbal_cents) AS BIGINT) AS total_cents
    FROM merged GROUP BY s_nationkey
    """,
)
def jdbc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Database-side MERGE upsert over JDBC — the portable twin of the
    reference's INSERT ... ON DUPLICATE KEY UPDATE (Runs.scala:93-102):
    the supplier dim is sunk as the base table, then an update batch
    (doubled balances for suppkey % 3 = 0, brand-new keys for
    suppkey % 5 = 0) is staged via df.write.jdbc and folded in with ONE
    set-oriented MERGE INTO statement executed in the database — never a
    per-row Python loop. The read-back aggregate proves matched keys
    were REPLACED (not appended) and new keys inserted. Money stays in
    exact integer cents end-to-end."""
    from ..sources.jdbcio import (
        derby_url,
        jdbc_upsert,
        read_jdbc,
        scratch_db,
        write_jdbc,
    )

    url = derby_url(scratch_db("db"))
    base = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.expr("CAST(ROUND(s_acctbal * 100) AS BIGINT)").alias(
            "acctbal_cents"
        ),
    )
    write_jdbc(base.coalesce(1), url, '"supplier_jdbc"', mode="overwrite")
    updates = base.filter(F.col("s_suppkey") % 3 == 0).select(
        "s_suppkey",
        "s_nationkey",
        (F.col("acctbal_cents") * 2).alias("acctbal_cents"),
    ).unionByName(
        base.filter(F.col("s_suppkey") % 5 == 0).select(
            (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
            "s_nationkey",
            (F.col("acctbal_cents") + 7).alias("acctbal_cents"),
        )
    )
    jdbc_upsert(spark, url, "supplier_jdbc", updates, key=["s_suppkey"])
    back = read_jdbc(
        spark,
        url,
        '"supplier_jdbc"',
        partition_column="s_nationkey",
        lower=0,
        upper=25,
        num_partitions=4,
    )
    return back.groupBy(F.col("s_nationkey").alias("nation")).agg(
        F.count("*").alias("n_rows"),
        F.sum("acctbal_cents").cast("bigint").alias("total_cents"),
    )
