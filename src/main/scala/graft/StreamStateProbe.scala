package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Streaming state-size audit (r6 verdict item 8): StreamingSpec proves
  * the SEMANTICS of the watermarked operators; this probe records that
  * watermark eviction actually BOUNDS STATE on a large feed — the
  * property that decides whether a stream survives 100 TB/day.
  *
  * Method: the 10× events table (1M rows; 2M for the dedup feed, which
  * is planted with one exact duplicate per event) is staged as a
  * ts-range-sorted parquet directory, so `maxFilesPerTrigger=1` replays
  * it as an in-order stream of ~32 time slices. After each micro-batch
  * Spark reports `stateOperators` metrics; if the watermark works, the
  * state row count tracks the watermark horizon (a slice or two), not
  * the cumulative key count — the cumulative count is what an unbounded
  * dedup would hold.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "runMain graft.StreamStateProbe"
  * Writes only under /tmp/graft_scale{N}. Results → BASELINE.md.
  *
  * SPARK_GRAFT_STREAM_SCALE (default 10) sets the feed multiplier:
  * 100 replays a 10M-event feed (20M for the duplicated dedup feed)
  * through the same 32 time slices — the r11 item-8 probe completing
  * the 100x story for the streaming family. The PASS criterion is
  * scale-free by construction: max state rows must track the
  * watermark HORIZON (a slice or two of keys), so at 10x the feed the
  * per-slice state grows 10x but the bound-as-%-of-input must stay
  * FLAT — state ∝ horizon × rate, never ∝ stream length.
  */
object StreamStateProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE", "10").toInt
    val out = s"/tmp/graft_scale$scale"
    val spark = Sessions.local("graft-stream-state-probe")

    // 10x events with offset ids (the ScaleProbe synthesis), written
    // ts-range-sorted: file part-i covers the i-th time slice, so a
    // 1-file trigger replays event time monotonically and the
    // watermark advances every batch
    val dedupIn = s"$out/stream_dedup_in.parquet"
    val joinIn = s"$out/stream_join_in.parquet"
    if (!Files.exists(Paths.get(s"$dedupIn/_SUCCESS"))) {
      val e = Tables.load(spark, base, "events")
      val evN = (0 until scale).map(i => e.withColumn("event_id",
          col("event_id") + lit(i * 100000000L)))
        .reduce(_ unionAll _)
      // dedup feed: every event delivered exactly twice (at-least-once)
      evN.unionAll(evN)
        .repartitionByRange(32, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(dedupIn)
      evN.repartitionByRange(32, col("ts")).sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(joinIn)
      println(s"[probe] staged range-sorted ${scale}x stream feeds under $out")
    }

    def runAudit(label: String, inDir: String,
        build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val ckpt = Files.createTempDirectory("graft_state_ckpt").toString
      val schema = spark.read.parquet(inDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = build(stream).writeStream
        .format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      val progresses = q.recentProgress.filter(_.numInputRows > 0)
      var cumIn = 0L
      var maxState = 0L
      progresses.foreach { p =>
        cumIn += p.numInputRows
        p.stateOperators.foreach { so =>
          maxState = math.max(maxState, so.numRowsTotal)
          println(f"[probe] $label batch=${p.batchId}%3d in=${p.numInputRows}%8d " +
            f"cum_in=$cumIn%9d state_rows=${so.numRowsTotal}%8d " +
            f"state_mem=${so.memoryUsedBytes / 1024 / 1024}%4d MB " +
            f"evicted=${so.numRowsRemoved}%8d")
        }
      }
      val last = progresses.last.stateOperators.map(_.numRowsTotal).sum
      println(f"[probe] $label SUMMARY: input=$cumIn max_state_rows=$maxState " +
        f"final_state_rows=$last bound=${100.0 * maxState / cumIn}%.1f%% of input")
      q.stop()
    }

    // 1. watermarked streaming dedup: state must hold ~the watermark
    // horizon of keys, not the 2M cumulative keys
    runAudit("dedup", dedupIn,
      st => graft.streaming.Streams.dedupStream(st, Seq("event_id"), "10 minutes"))

    // 2. stream-stream interval join: both sides' buffered state must
    // be evicted as the watermark passes view_ts + horizon
    runAudit("interval-join", joinIn,
      st => graft.streaming.Streams.viewClickJoin(st, "30 minutes", "10 minutes"))

    // 3. windowed approx-distinct: state must be one constant-size HLL
    // sketch per open (window, type) group — a handful of rows however
    // many distinct users stream past (an exact distinct would hold
    // every (window, user) pair)
    runAudit("windowed-hll", joinIn,
      st => graft.streaming.Streams.windowedApproxDistinct(
        st, "1 hour", "event_type", "user_id"))

    // 4. windowed top-k COUNTS stage (the stream-safe half of
    // windowedTopK): one counter per open (window, type) — the
    // watermark closes windows behind the horizon
    runAudit("windowed-topk-counts", joinIn,
      st => graft.streaming.Streams.windowedCounts(st, "1 hour"))

    // 5. LEFT OUTER interval join: same eviction bound as the inner
    // join PLUS the unmatched-view buffer the outer semantics hold
    // until the watermark proves no click can arrive — state must
    // still track the horizon, not the cumulative view count
    runAudit("left-outer-join", joinIn,
      st => graft.streaming.Streams.viewClickJoinLeft(st, "30 minutes", "10 minutes"))

    spark.stop()
  }
}
