package graft

/** Regression: two `graph tricount refresh` calls racing on one census
  * path. Each refresh commits an IndexStore version, and IndexStore's
  * commit is a single-writer protocol (list versions, write max+1 with
  * overwrite, prune below it). When the refresh ran under the read gate
  * only, both calls read version N and the later commit dropped the
  * other's edges. The command now holds the engine write lock, so the
  * second refresh folds on top of the first. */
class TriCountRefreshRaceSpec extends SparkSpec {
  import graft.engine.{Catalog, Engine}

  test("concurrent tricount refreshes with disjoint batches both fold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tricrace").toString
    // a path graph, then two disjoint chord batches that each close
    // triangles against it (and one triangle needs edges from both)
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val batchA = Seq((1L, 3L), (3L, 5L))
    val batchB = Seq((2L, 4L), (4L, 6L), (1L, 5L))
    base.toDF("s", "t").write.parquet(s"$dir/base")
    batchA.toDF("s", "t").write.parquet(s"$dir/a")
    batchB.toDF("s", "t").write.parquet(s"$dir/b")
    (base ++ batchA ++ batchB).toDF("s", "t").write.parquet(s"$dir/union")
    val engine = new Engine(spark, new Catalog(spark))
    engine.execute(s"graph tricount create where edges = $dir/base and " +
      s"src = s and dst = t and path = $dir/idx")

    val go = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq("a", "b").map { batch =>
      val th = new Thread(() =>
        try {
          go.await()
          engine.execute(s"graph tricount refresh where path = $dir/idx " +
            s"and source = $dir/$batch and src = s and dst = t")
        } catch { case e: Throwable => errors.add(e) })
      th.setDaemon(true); th.start(); th
    }
    go.countDown()
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a refresh did not finish")
    assert(errors.isEmpty, errors.toString)

    val fresh = engine.execute(s"graph tricount create where edges = " +
      s"$dir/union and src = s and dst = t and path = $dir/fresh")
    val Rx = ".*: (\\d+) triangles over (\\d+) edges".r
    val Rx(freshTri, freshEdges) = fresh
    val nEdges = base.size + batchA.size + batchB.size
    assert(freshEdges.toInt === nEdges)
    val got = engine.execute(s"graph tricount get where path = $dir/idx")
    assert(got.contains(s""""n_edges":$nEdges"""), got)
    assert(got.contains(s""""n_triangles":$freshTri"""), got)
  }
}
