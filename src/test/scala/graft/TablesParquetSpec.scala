package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]]: the footer schema is inferred once per unchanged
  * set of files, a changed file is inferred again, and a read through a
  * known schema builds the plan inference would build.
  */
class TablesParquetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withTempDir[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_parquet_schemas").toFile
    try f(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("a second load of an unchanged table launches no job before an action") {
    import spark.implicits._
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
      val first = JobCount.of(spark)(Tables.parquet(spark, path))
      assert(first.outsideSql >= 1, s"the first load infers the schema: $first")
      val second = JobCount.of(spark)(Tables.parquet(spark, path))
      assert(second.jobs == 0, s"the second load must reuse the schema: $second")
      assert(Tables.parquet(spark, path).orderBy("k").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
    }
  }

  test("rewriting a table with an extra column infers its schema again") {
    import spark.implicits._
    withTempDir { dir =>
      val path = s"$dir/t.parquet"
      Seq((1L, "a")).toDF("k", "v").write.parquet(path)
      assert(Tables.parquet(spark, path).columns.toSeq == Seq("k", "v"))
      Seq((1L, "a", 2.5)).toDF("k", "v", "extra").write.mode("overwrite").parquet(path)
      val again = Tables.parquet(spark, path)
      assert(again.columns.toSeq == Seq("k", "v", "extra"))
      assert(again.select("extra").as[Double].collect().toSeq == Seq(2.5))
    }
  }

  /** `events.parquet` with one int64 `ts` column in `unit`, written with
    * the parquet writer directly (Spark writes no TIMESTAMP(NANOS)).
    */
  private def writeEvents(dir: String, unit: String, ts: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      s"message events { required int64 user_id; required int64 ts (TIMESTAMP($unit,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(Tables.path(dir, "events")))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("user_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("events in the nanos and the micros layout load the same ts, read after read") {
    // 2024-01-02 03:04:05.123456 UTC and one second later; the nanos
    // layout carries 789 ns more, which the load truncates
    val micros = Seq(1704164645123456L, 1704164646123456L)
    withTempDir { nanosDir =>
      withTempDir { microsDir =>
        writeEvents(nanosDir, "NANOS", micros.map(_ * 1000L + 789L))
        writeEvents(microsDir, "MICROS", micros)
        for (dir <- Seq(nanosDir, microsDir); _ <- 1 to 2) {
          val events = Tables.load(spark, dir, "events")
          assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
          val got = events.orderBy("user_id").select(unix_micros(col("ts")))
            .collect().map(_.getLong(0)).toSeq
          assert(got == micros, s"$dir: ts $got")
        }
      }
    }
  }

  test("a partitionBy table keeps its partition column last, and the IVF probe prunes") {
    import spark.implicits._
    withTempDir { dir =>
      val path = s"$dir/parts"
      (0 until 40).map(i => (i.toLong, i % 4, i * 0.5)).toDF("id", "cell", "x")
        .write.partitionBy("cell").parquet(path)
      val inferred = spark.read.parquet(path)
      for (_ <- 1 to 2) {
        val df = Tables.parquet(spark, path)
        assert(df.columns.toSeq == Seq("id", "x", "cell"))
        assert(df.schema == inferred.schema)
        assert(df.filter(col("cell") === 2).count() == 10)
      }

      val rnd = new scala.util.Random(7)
      val vecs = (1 to 200).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian())))
        .toDF("vec_id", "embedding")
      val idx = s"$dir/ivf"
      val centroids = graft.ops.Similarity.buildIvfIndex(vecs, "vec_id", "embedding", idx,
        nCentroids = 4, lloydIters = 1)
      val query = centroids.head
      val probes = (1 to 2).map(_ => graft.ops.Similarity.probeIvfIndex(
        spark, idx, "vec_id", "embedding", query, k = 5, nProbe = 1))
      probes.foreach { p =>
        val plan = p.queryExecution.executedPlan.toString
        assert("PartitionFilters: \\[[^\\]]*ivf_cid".r.findFirstIn(plan).nonEmpty,
          s"isin on ivf_cid must stay a PartitionFilter:\n$plan")
      }
      assert(probes(0).collect().toSeq == probes(1).collect().toSeq)
    }
  }
}
