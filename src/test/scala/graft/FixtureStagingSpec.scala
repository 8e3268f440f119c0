package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the stored-fixture staging (r12 verdict item 1 and its r13
  * extensions): the timed plans of the staged graph/CF/rules queries
  * must read their edge/count tables from parquet fixtures, NOT
  * rebuild them from events — the rebuild's unmistakable marker is the
  * `get_json_object` extraction of the item key from events.props,
  * which only the fixture BUILD (untimed warmup) performs. A future
  * edit that quietly reintroduces the per-pass rebuild fails here, not
  * in a bench-record diff two rounds later. q_bpe_encode is pinned the
  * same way: its timed plan must not contain training's zip_with
  * pair-step (the merges arrive as a stored 5-row frame).
  */
class FixtureStagingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val stagedGraphQueries = Seq(
    "q_pagerank", "q_graph_degrees", "q_bfs_hops", "q_triangles",
    "q_assortativity", "q_kcore", "q_item_sim", "q_assoc_rules",
    "q_link_predict", "q_hub_audit")

  test("staged graph/CF/rules queries read fixtures, not a per-pass events rebuild") {
    stagedGraphQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("get_json_object"),
        s"$name: timed plan extracts events.props — the fixture " +
          s"staging regressed to a per-pass rebuild")
      spark.catalog.clearCache()
    }
  }

  test("q_bpe_encode's timed plan carries no training pair-step") {
    val plan = SparkEntry.queries("q_bpe_encode")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("zip_with"),
      "q_bpe_encode: timed plan contains training's zip_with pair " +
        "count — the merge staging regressed to inline retraining")
    spark.catalog.clearCache()
  }

  // Tables.stagedFixtureDir publishes every stored fixture (parquet
  // frames and the IVF index): staged write, then atomic rename
  private def fixtureRoot(key: String) = new java.io.File(
    new java.io.File(sys.props("java.io.tmpdir"), "graft_fixtures"), key)

  private def touch(dir: java.io.File, name: String): Unit = {
    dir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir, name).toPath, "x")
  }

  private def withKey(f: String => Unit): Unit = {
    val key = "staging_spec_" + java.util.UUID.randomUUID()
    try f(key)
    finally fixtureRoot(key).getParentFile.listFiles()
      .filter(_.getName.startsWith(key))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("staged fixture: publishes the stage as the root, then reuses it") {
    withKey { key =>
      val built = Tables.stagedFixtureDir(key, marker = "_done")(touch(_, "_done"))
      assert(built == fixtureRoot(key))
      assert(new java.io.File(built, "_done").exists())
      val again = Tables.stagedFixtureDir(key, marker = "_done") { _ =>
        fail("a built fixture must not be rebuilt")
      }
      assert(again == built)
    }
  }

  test("staged fixture: a lost rename race reads the winner's root") {
    withKey { key =>
      var stage: java.io.File = null
      val got = Tables.stagedFixtureDir(key, marker = "_done") { st =>
        stage = st
        touch(st, "_done")
        touch(fixtureRoot(key), "_done") // another process published first
      }
      assert(got == fixtureRoot(key))
      assert(!stage.exists(), "the losing stage is dropped")
    }
  }

  test("staged fixture: a non-race rename failure returns the staged copy") {
    withKey { key =>
      val got = Tables.stagedFixtureDir(key, marker = "_done") { st =>
        touch(st, "_done")
        // a non-empty root without the marker makes the rename fail
        // with no published fixture to fall back on
        touch(fixtureRoot(key), "debris")
      }
      assert(got != fixtureRoot(key))
      assert(new java.io.File(got, "_done").exists(),
        "the caller must get a directory that holds the fixture")
    }
  }
}
