package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.core.CoreQueries
import graft.functions.{F, TextExpressions}

/** One lineitem row: the columns the pricing summary reads. */
final case class Line(l_orderkey: Long, l_linenumber: Int, l_quantity: Double,
    l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)

/** One document for the signature functions. */
final case class Doc(id: Long, text: String)

/** The batch layers, probed in a traced run over seeded tables written
  * into the run's directory (runs read nothing outside their checkout):
  *   - `graft.core`: `CoreQueries` q04, the pricing summary, over a
  *     seeded `lineitem`;
  *   - `graft.functions`: `F.shingleHashes` + `F.minhashSig`, and
  *     `F.simhash64`, over seeded documents.
  * Each is timed over a few passes after one warm pass, with its Spark
  * jobs counted through a job group on the calling thread; each answer is
  * checked against a plain Scala computation over the same rows. */
object BatchLayers {
  val LineRows = 200000
  val Docs = 20000
  val Passes = 5
  private val Flags = IndexedSeq("A", "N", "R")
  private val Statuses = IndexedSeq("F", "O")
  /** q04 keeps rows shipped up to this day (its literal, at midnight UTC). */
  private val CutoffDay = java.time.LocalDate.parse("2001-09-01").toEpochDay

  def lines(seed: Long): Seq[Line] = {
    val r = new SplittableRandom(seed * 31L + 4)
    val day0 = java.time.LocalDate.parse("1992-01-01").toEpochDay
    (0 until LineRows).map { i =>
      val day = day0 + r.nextInt(3900) // to mid-2002, so q04's filter bites
      Line(i / 4 + 1L, i % 4 + 1, 1 + r.nextInt(50), r.nextInt(10000000) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Flags(r.nextInt(3)),
        Statuses(r.nextInt(2)), java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(day * 86400)))
    }
  }

  /** Documents of 8-40 words over a 500-word vocabulary; one in ten
    * repeats an earlier document's text. */
  def docs(seed: Long): Seq[Doc] = {
    val r = new SplittableRandom(seed * 31L + 5)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Docs).map { i =>
      val text =
        if (i > 0 && r.nextInt(10) == 0) texts(r.nextInt(texts.size))
        else Seq.fill(8 + r.nextInt(33))(s"w${r.nextInt(500)}").mkString(" ")
      texts += text
      Doc(i.toLong, text)
    }
  }

  /** Distinct word-3-gram hashes of a text of 3 or more words, as
    * `F.shingleHashes` defines them (polynomial hash of each n-gram). */
  def shingles(text: String): Set[Long] =
    text.split(" ").sliding(3).map(g => TextExpressions.polyHash(g.mkString(" "))).toSet

  /** Wall ms, jobs, task ms and driver gap ms of each of `Passes` runs of
    * `f`, after one untimed warm run. */
  private def passes(ctx: Ctx, name: String)(f: => Any): Seq[(Double, Int, Long, Double)] = {
    val sc = ctx.spark.sparkContext
    f
    (1 to Passes).map { i =>
      val group = s"perfbench-$name-$i"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try ctx.tracer.span(name)(f) finally sc.clearJobGroup()
      val t1 = System.nanoTime()
      val jobs = ctx.listeners.jobsInGroup(group)
      val covered = Stats.unionLength(jobs.map(j =>
        (ctx.tracer.nanosOf(j.start), ctx.tracer.nanosOf(j.end))))
      (Stats.ms(t0, t1), jobs.size, jobs.map(_.taskMs).sum,
        math.max(0.0, (t1 - t0 - covered) / 1e6))
    }
  }

  def probe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val dir = ctx.dir("batch_layers")
    val ls = lines(ctx.seed)
    spark.createDataset(ls)(Encoders.product[Line]).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val ds = docs(ctx.seed)
    spark.createDataset(ds)(Encoders.product[Doc]).repartition(4)
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")

    // graft.core: q04 against the same sums computed here
    val q04 = CoreQueries.queries("q04_pricing_summary")
    val rows = q04(spark, dir).collect()
    val expect = ls.filter(l => l.l_shipdate.getTime / 86400000L <= CutoffDay)
      .groupBy(l => (l.l_returnflag, l.l_linestatus)).map { case (k, g) =>
        k -> (g.map(_.l_quantity).sum, g.map(l => BigDecimal(l.l_extendedprice)).sum.toDouble,
          g.size.toLong)
      }
    val got = rows.map { r =>
      (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")) ->
        (r.getAs[Double]("sum_qty"), r.getAs[Double]("sum_base_price"),
          r.getAs[Long]("count_order"))
    }.toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    ctx.out.check("core q04 = sums over the generated rows",
      got.keySet == expect.keySet && expect.forall { case (k, (q, p, n)) =>
        val (gq, gp, gn) = got(k); gq == q && close(gp, p) && gn == n },
      s"${got.size} groups, expected ${expect.size}")
    val core = passes(ctx, "core.q04")(q04(spark, dir).collect())
    out.metric("core.q04_ms", Stats.median(core.map(_._1)), "ms")
    out.metric("core.jobs_per_query", Stats.mean(core.map(_._2.toDouble)), "count")
    out.metric("core.task_ms_per_query", Stats.mean(core.map(_._3.toDouble)), "ms")
    out.metric("core.gap_ms_per_query", Stats.median(core.map(_._4)), "ms")

    // graft.functions: shingles against the Scala sets; MinHash must give
    // repeated texts the same signature
    val docDf = spark.read.parquet(s"$dir/docs.parquet")
    val sig = docDf.select(col("id"), F.shingleHashes(col("text"), 3).as("sh"),
      F.minhashSig(F.shingleHashes(col("text"), 3), 16).as("sig")).collect()
    val byId = ds.map(d => d.id -> d.text).toMap
    val shOk = sig.forall(r => r.getSeq[Long](1).toSet == shingles(byId(r.getLong(0))))
    val sigOf = sig.map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    val mhOk = sigOf.values.forall(_.size == 16) &&
      ds.groupBy(_.text).values.forall(g => g.map(d => sigOf(d.id)).distinct.size == 1)
    ctx.out.check("functions shingle_hashes = Scala sets; repeated texts share a MinHash",
      sig.length == Docs && shOk && mhOk, s"${sig.length} docs, shingles $shOk, minhash $mhOk")
    def fold(c: org.apache.spark.sql.Column): DataFrame =
      docDf.select(c.as("x")).agg(bit_xor(xxhash64(col("x"))))
    val mh = passes(ctx, "functions.minhash")(
      fold(F.minhashSig(F.shingleHashes(col("text"), 3), 16)).collect())
    val sh = passes(ctx, "functions.simhash")(fold(F.simhash64(col("text"))).collect())
    out.metric("functions.minhash_ms", Stats.median(mh.map(_._1)), "ms")
    out.metric("functions.simhash_ms", Stats.median(sh.map(_._1)), "ms")
    out.metric("functions.task_ms_per_pass",
      Stats.mean((mh ++ sh).map(_._3.toDouble)), "ms")
  }
}
