"""Scale-discipline tests: salting, checkpoint/resume, layout, streaming
(north-rule requirements, SURVEY §2.7)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ndjson_spatial_spark.plans.checkpoint import StagedPipeline
from ndjson_spatial_spark.plans.salting import (
    apply_salt_replicate,
    apply_salt_scatter,
    key_frequency_sketch,
    salt_plan,
)


class TestSalting:
    @pytest.fixture()
    def skewed(self, spark):
        # one hot key (90%), many cold keys
        hot = spark.range(9000).select(F.lit(1).alias("cell"), F.col("id").alias("v"))
        cold = spark.range(1000).select(
            (F.col("id") % 100 + 2).alias("cell"), F.col("id").alias("v")
        )
        return hot.unionByName(cold)

    def test_sketch_and_plan(self, spark, skewed):
        freq = key_frequency_sketch(skewed, "cell")
        plan = salt_plan(freq, "cell", hot_threshold=1000, target_per_salt=1000)
        rows = plan.collect()
        assert len(rows) == 1 and rows[0].cell == 1
        assert rows[0].salt_factor == 9

    def test_salted_join_matches_plain_join(self, spark, skewed):
        build = spark.range(102).select(
            F.col("id").alias("cell"), (F.col("id") * 10).alias("payload")
        )
        plain = skewed.join(build, "cell").agg(
            F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
        ).collect()[0]
        # the probe/build composition spatial_intersection_join uses
        freq = key_frequency_sketch(skewed, "cell")
        plan = salt_plan(freq, "cell", hot_threshold=1000, target_per_salt=1000)
        salted = apply_salt_scatter(skewed, "cell", plan).join(
            apply_salt_replicate(build, "cell", plan), ["cell", "__salt"]
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")).collect()[0]
        assert (plain.n, plain.s) == (salted.n, salted.s)

    def test_salt_spreads_hot_key(self, spark, skewed):
        freq = key_frequency_sketch(skewed, "cell")
        plan = salt_plan(freq, "cell", hot_threshold=1000, target_per_salt=1000)
        scattered = apply_salt_scatter(skewed, "cell", plan)
        n_salts = (
            scattered.where(F.col("cell") == 1).select("__salt").distinct().count()
        )
        assert n_salts >= 5  # hot rows spread over most of the 9 salts


class TestCheckpoint:
    def test_resume_skips_completed_stage(self, spark, tmp_path):
        base = str(tmp_path / "pipe")
        calls = []

        def build():
            calls.append(1)
            return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("d"))

        p1 = StagedPipeline(spark, base)
        out1 = p1.stage("double", build)
        assert out1.count() == 100
        assert p1.completed["double"] == "computed"
        m = p1.manifest("double")
        assert m["rows"] == 100 and m["status"] == "complete"

        p2 = StagedPipeline(spark, base)
        out2 = p2.stage("double", build)
        assert out2.count() == 100
        assert p2.completed["double"] == "resumed"
        assert len(calls) == 1  # second run never called build()

    def test_incomplete_stage_recomputed(self, spark, tmp_path):
        base = str(tmp_path / "pipe2")
        p = StagedPipeline(spark, base)
        p.stage("s1", lambda: spark.range(10))
        # corrupt the manifest -> must recompute
        mpath = os.path.join(base, "s1", "_MANIFEST.json")
        with open(mpath, "w") as f:
            f.write("{}")
        p2 = StagedPipeline(spark, base)
        p2.stage("s1", lambda: spark.range(10))
        assert p2.completed["s1"] == "computed"


class TestZOrderLayout:
    def test_clustered_files_have_disjoint_cell_ranges(self, spark, tmp_path):
        """cluster_by_cell + write must produce files whose [min,max] cell
        ranges are pairwise disjoint (range partitioning), so cell-keyed
        scans prune whole files from parquet statistics."""
        from ndjson_spatial_spark.plans.layout import cluster_by_cell
        from ndjson_spatial_spark.sources.documents import (
            extract_geometry_spans,
            synth_documents,
        )

        geoms = extract_geometry_spans(
            synth_documents(spark, n_docs=800, seed=42))
        out = str(tmp_path / "zorder")
        cluster_by_cell(geoms, res=10, partitions=8).write.parquet(out)

        back = spark.read.parquet(out)
        ranges = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(F.min("cell_id").alias("lo"), F.max("cell_id").alias("hi"))
            .collect()
        )
        assert len(ranges) >= 4
        spans = sorted((r.lo, r.hi) for r in ranges)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, (spans,)
        # pruning evidence: a narrow cell-range scan touches few files
        lo = spans[0][0]
        hi = spans[0][1]
        touched = (
            back.where(F.col("cell_id").between(lo, hi))
            .select(F.input_file_name().alias("f")).distinct().count()
        )
        assert touched <= 2

    def test_sort_preserved_within_files(self, spark, tmp_path):
        from ndjson_spatial_spark.plans.layout import cluster_by_cell
        from ndjson_spatial_spark.sources.documents import (
            extract_geometry_spans,
            synth_documents,
        )

        geoms = extract_geometry_spans(
            synth_documents(spark, n_docs=300, seed=7))
        clustered = cluster_by_cell(geoms, res=10, partitions=4)
        ok = clustered.mapInPandas(
            lambda it: (
                __import__("pandas").DataFrame(
                    {"sorted": [bool(pdf["cell_id"].is_monotonic_increasing)]}
                ) for pdf in it
            ),
            "sorted boolean",
        ).collect()
        assert ok and all(r.sorted for r in ok)


class TestStreaming:
    def test_streaming_pipeline_end_to_end(self, spark, tmp_path):
        """File-source stream of documents -> geometry extract -> per-cell
        windowed counts -> memory sink, with watermarking."""
        from ndjson_spatial_spark.sources.documents import synth_documents
        from ndjson_spatial_spark.streaming.stream import (
            read_documents_stream,
            streaming_cell_counts,
            streaming_geometry_extract,
        )

        src = str(tmp_path / "stream_in")
        synth_documents(spark, n_docs=300, seed=42).write.parquet(src)

        sdf = read_documents_stream(spark, src, max_files_per_trigger=2)
        assert sdf.isStreaming
        geoms = streaming_geometry_extract(sdf).withColumn(
            "event_time", F.current_timestamp()
        )
        counts = streaming_cell_counts(geoms, res=5, window="10 seconds",
                                       watermark="10 seconds")
        q = (
            counts.writeStream.format("memory")
            .queryName("cell_counts")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # append mode + watermark: rows emit only after watermark passes, so
        # assert on streaming PROGRESS (rows flowed into state), not sink
        progressed = any(
            json.loads(str(p))["numInputRows"] > 0 for p in q.recentProgress
        )
        assert progressed

    def test_streaming_spatial_tag_equals_batch(self, spark, tmp_path):
        """Stream-static spatial join: availableNow over a file-source
        geometry stream must produce EXACTLY the batch operator's rows
        (inner stream-static joins are stateless per micro-batch)."""
        from ndjson_spatial_spark.operators.spatial import (
            spatial_intersection_join,
        )
        from ndjson_spatial_spark.sources.documents import (
            extract_geometry_spans,
            synth_documents,
        )
        from ndjson_spatial_spark.streaming.stream import (
            streaming_geometry_extract,
            streaming_spatial_tag,
        )

        docs = synth_documents(spark, n_docs=400, seed=42)
        geoms = extract_geometry_spans(docs)
        refs = geoms.where(
            (F.col("geom.geom_type") == "Polygon")
            & (F.crc32(F.col("doc_id")) % 7 == 0)
        ).select("geom")
        batch = spatial_intersection_join(geoms, refs, res=7)
        want = sorted((r.doc_id, r.offset) for r in batch.collect())

        src = str(tmp_path / "ss_in")
        docs.write.parquet(src)
        from ndjson_spatial_spark.streaming.stream import read_documents_stream
        sdf = read_documents_stream(spark, src, max_files_per_trigger=2)
        tagged = streaming_spatial_tag(
            streaming_geometry_extract(sdf), refs, res=7)
        q = (
            tagged.select("doc_id", "offset").writeStream.format("memory")
            .queryName("ss_out").outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = sorted((r.doc_id, r.offset)
                     for r in spark.table("ss_out").collect())
        assert got == want

    def test_stream_stream_interval_join_matches_batch(
            self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F

        from ndjson_spatial_spark.streaming.stream import (
            stream_stream_interval_join,
        )

        # NB timestamps offset from epoch 0: Spark's stateful late-row
        # filter drops rows with event time <= watermark, and the INITIAL
        # watermark is epoch 0 — a row AT 1970-01-01T00:00:00 on a
        # watermarked side is silently considered late (debugged here,
        # documented on the operator).
        rows = [  # (event_id, user, type, ts-second)
            (1, 1, "v", 1000), (2, 1, "p", 1100),   # match (within 300s)
            (3, 1, "p", 1400),                      # outside horizon
            (4, 2, "v", 1050), (5, 2, "p", 1050),   # delta 0 matches
            (6, 3, "v", 1000), (7, 4, "p", 1010),   # different users
        ]
        src = str(tmp_path / "ssj_in")
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "sec"]
        ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
        df.write.parquet(src)
        sdf = spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src)
        v = sdf.where(F.col("event_type") == "v").select(
            F.col("event_id").alias("vid"),
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"))
        p = sdf.where(F.col("event_type") == "p").select(
            F.col("event_id").alias("pid"),
            F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
        out = stream_stream_interval_join(
            v, p, "vu", "pu", "vts", "pts",
            horizon="5 minutes", watermark="1 minute")
        q = (out.select("vid", "pid").writeStream.format("memory")
             .queryName("ssj_out").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = sorted((r.vid, r.pid)
                     for r in spark.table("ssj_out").collect())
        assert got == [(1, 2), (4, 5)]
        # disjoint-name contract
        with pytest.raises(ValueError):
            stream_stream_interval_join(v, v, "vu", "vu", "vts", "vts")

    def test_left_outer_flush_with_sentinel_tail(self, spark, tmp_path):
        # round-5 (VERDICT r4 item 8): a finite availableNow replay never
        # evicts the LAST windows' state on its own, so unmatched-left
        # null rows are missing — sentinel tail rows past every real
        # row's expiry flush them.  PITFALL pinned here: the sentinel-key
        # filter must run on the SINK table, not in the streaming plan
        # (it would propagate through the join equality to both scans and
        # row-group-prune the sentinel file away).
        import os
        import time

        from pyspark.sql import functions as F

        from ndjson_spatial_spark.streaming.stream import (
            append_sentinel_file,
            stream_stream_interval_join,
        )

        rows = [
            (1, 1, "v", 1000), (2, 1, "p", 1100),   # match
            (4, 2, "v", 1050),                      # unmatched view
            (6, 3, "v", 2000),                      # unmatched, last window
        ]
        src = str(tmp_path / "ssjo_in")
        df = spark.createDataFrame(
            rows, ["event_id", "user_id", "event_type", "sec"]
        ).withColumn("ts", F.timestamp_seconds(F.col("sec"))).drop("sec")
        df.coalesce(1).write.parquet(src)
        base = time.time() - 60
        for f in sorted(os.listdir(src)):
            if f.startswith("part-"):
                os.utime(os.path.join(src, f), (base, base))
        sent = spark.createDataFrame(
            [(-100, -1, "v"), (-200, -2, "p")],
            ["event_id", "user_id", "event_type"],
        ).withColumn("ts", F.timestamp_seconds(F.lit(100000)))
        append_sentinel_file(spark, src, sent, base + 1)
        sent2 = sent.withColumn("ts", F.timestamp_seconds(F.lit(200000))) \
            .withColumn("event_id", F.col("event_id") - 1)
        append_sentinel_file(spark, src, sent2, base + 2)
        sdf = (spark.readStream.schema(spark.read.parquet(src).schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
        v = sdf.where(F.col("event_type") == "v").select(
            F.col("event_id").alias("vid"),
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"))
        p = sdf.where(F.col("event_type") == "p").select(
            F.col("event_id").alias("pid"),
            F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
        out = stream_stream_interval_join(
            v, p, "vu", "pu", "vts", "pts",
            horizon="5 minutes", watermark="1 minute", how="leftOuter")
        q = (out.select("vid", "pid").writeStream.format("memory")
             .queryName("ssjo_out").outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = sorted(
            (r.vid, r.pid) for r in
            spark.table("ssjo_out").where(F.col("vid") >= 0).collect())
        # the FULL leftOuter contract, including the last window's null
        assert got == [(1, 2), (4, None), (6, None)]

    def test_streaming_filter_stateless(self, spark, tmp_path):
        from ndjson_spatial_spark.streaming.stream import (
            read_documents_stream,
            streaming_filter,
        )
        from ndjson_spatial_spark.sources.documents import synth_documents

        src = str(tmp_path / "sf_in")
        synth_documents(spark, n_docs=100, seed=42).write.parquet(src)
        sdf = read_documents_stream(spark, src)
        filtered = streaming_filter(sdf, "d.doc_id != null")
        q = (
            filtered.writeStream.format("memory").queryName("filt")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sf_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.sql("SELECT count(*) AS n FROM filt").collect()[0].n == 100

    def test_streaming_dedup_first_seen_stateful(self, spark, tmp_path):
        """Custom stateful operator (applyInPandasWithState): duplicates of
        a key across micro-batches emit exactly once."""
        from ndjson_spatial_spark.streaming.stream import (
            streaming_dedup_first_seen,
        )

        src = str(tmp_path / "dd_in")
        # two files with overlapping keys; maxFilesPerTrigger=1 forces the
        # duplicate to arrive in a LATER micro-batch (true cross-batch state)
        spark.createDataFrame(
            [("a", 1), ("b", 1), ("a", 2)], ["doc_id", "v"]
        ).coalesce(1).write.parquet(src)
        spark.createDataFrame(
            [("a", 3), ("c", 1)], ["doc_id", "v"]
        ).coalesce(1).write.mode("append").parquet(src)

        sdf = (
            spark.readStream.schema("doc_id string, v bigint")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        out = streaming_dedup_first_seen(sdf, "doc_id")
        # availableNow: process the backlog then terminate — with state
        # timeouts registered, the default trigger keeps scheduling no-data
        # cleanup batches forever and processAllAvailable never returns
        q = (
            out.writeStream.format("memory").queryName("dd")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), "query did not terminate"
        finally:
            q.stop()
        rows = spark.sql("SELECT doc_id FROM dd").collect()
        ids = sorted(r.doc_id for r in rows)
        assert ids == ["a", "b", "c"]


class TestStreamingSessionize:
    def test_gap_sessions_close_on_event_and_watermark(self, spark, tmp_path):
        """Stateful streaming sessionization: a session closes either when
        a later event arrives past the gap (in-batch) or when the
        watermark passes end+gap (event-time timeout).  Closed sessions
        must equal the batch operator's rows for the same events."""
        import datetime as dt

        from ndjson_spatial_spark.operators.relational import sessionize
        from ndjson_spatial_spark.streaming.stream import (
            streaming_sessionize,
        )

        base = dt.datetime(2024, 1, 1)

        def t(minutes):
            return base + dt.timedelta(minutes=minutes)

        src = str(tmp_path / "ss_in")
        # file 1: user A session 1 (3 events), user B session 1 (1 event)
        spark.createDataFrame(
            [("A", t(0), 1.0), ("A", t(5), 2.0), ("A", t(10), 4.0),
             ("B", t(2), 8.0)],
            ["user_id", "ts", "value"],
        ).coalesce(1).write.parquet(src)
        # file 2 (later micro-batch): user A far-future event — closes A's
        # session 1 in-batch AND pushes the watermark (10 min delay) past
        # B's end+gap so B's session 1 closes by TIMEOUT in the next batch
        spark.createDataFrame(
            [("A", t(500), 1.0)], ["user_id", "ts", "value"],
        ).coalesce(1).write.mode("append").parquet(src)
        # file 3: keeps the stream alive one more batch so timeouts fire
        spark.createDataFrame(
            [("C", t(501), 1.0)], ["user_id", "ts", "value"],
        ).coalesce(1).write.mode("append").parquet(src)

        sdf = (
            spark.readStream
            .schema("user_id string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1).parquet(src)
        )
        out = streaming_sessionize(sdf, gap_minutes=30.0,
                                   watermark="10 minutes")
        q = (
            out.writeStream.format("memory").queryName("ss")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), "query did not terminate"
        finally:
            q.stop()
        got = {(r.user_id, r.session_seq): (r.n_events, r.value_sum,
                                            r.start_ts, r.end_ts)
               for r in spark.sql("SELECT * FROM ss").collect()}
        # A session 1 closed by the in-batch gap; B session 1 by timeout
        assert ("A", 1) in got and ("B", 1) in got
        batch = spark.createDataFrame(
            [("A", t(0), 1.0), ("A", t(5), 2.0), ("A", t(10), 4.0),
             ("B", t(2), 8.0), ("A", t(500), 1.0), ("C", t(501), 1.0)],
            ["user_id", "ts", "value"])
        want = {(r.user_id, r.session_seq): (r.n_events, r.value_sum,
                                             r.start_ts, r.end_ts)
                for r in sessionize(batch, gap_minutes=30.0).collect()}
        for k, v in got.items():
            assert want[k] == v, (k, v, want[k])
        # the still-open tail sessions (A seq 2, C seq 1) must NOT emit
        assert ("A", 2) not in got and ("C", 1) not in got


def test_streaming_kmv_equals_batch_sketch(spark, tmp_path):
    """The streaming KMV's merged final signatures must equal the batch
    sketch bit-for-bit — the semilattice-merge property that makes KMV a
    valid streaming/partial aggregate."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ndjson_spatial_spark.operators.sketch import (
        kmv_distinct, kmv_merge_estimate)
    from ndjson_spatial_spark.streaming.stream import streaming_kmv_distinct

    d = spark.range(3000).select((F.col("id") % 777).alias("v"))
    src = str(tmp_path / "kmv_src")
    # several files -> several micro-batch groupings possible
    d.repartition(6).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(d.schema).parquet(src)
    out = streaming_kmv_distinct(sdf, "v", k=48, shards=3)
    q = (out.writeStream.format("memory").queryName("t_skmv")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    w = Window.partitionBy("shard").orderBy(F.desc("seq"))
    latest = (spark.table("t_skmv")
              .withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1))
    got = kmv_merge_estimate(latest, k=48).collect()[0]
    exp = kmv_distinct(d, "v", k=48).collect()[0]
    assert (got["n_kept"], got["kth_hash"], got["estimate"]) == \
        (exp["n_kept"], exp["kth_hash"], exp["estimate"])


def test_streaming_heavy_hitters_mg_bound_and_exact_regime(spark, tmp_path):
    """MG approximation bound in the reduced regime + exact counts in
    the capacity >= distinct regime, both batch-split-proof."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ndjson_spatial_spark.streaming.stream import (
        heavy_hitters_merge, streaming_heavy_hitters)

    # skewed stream: value 0 appears 600x, 1..20 appear 30x each
    d = spark.range(1200).select(
        F.when(F.col("id") < 600, 0)
        .otherwise(F.col("id") % 20 + 1).cast("long").alias("v"))
    src = str(tmp_path / "hh_src")
    d.repartition(5).write.mode("overwrite").parquet(src)

    def run(capacity):
        sdf = spark.readStream.schema(d.schema).parquet(src)
        out = streaming_heavy_hitters(sdf, "v", capacity=capacity)
        name = f"t_hh_{capacity}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
        w = Window.partitionBy("shard").orderBy(F.desc("seq"))
        latest = (spark.table(name)
                  .withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") == 1))
        return {r["value"]: r["cnt"]
                for r in heavy_hitters_merge(latest).collect()}

    # reduced regime: capacity 5 < 21 distinct; the dominant value must
    # survive with count within n/(capacity+1) = 200 of the truth
    small = run(5)
    assert 0 in small and 600 - 200 <= small[0] <= 600
    # exact regime: capacity >= distinct -> exact counts
    exact = run(32)
    assert exact[0] == 600 and all(exact[v] == 30 for v in range(1, 21))
