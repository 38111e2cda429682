package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog over the testdata parquet corpus.
  *
  * Mirrors the reference's metadata layer role (EdgeLake resolves a logical
  * `dbms.table` to the operator nodes holding its shards —
  * blockchain/metadata.py:807 `get_operators_by_keys`); in Spark a logical
  * table is ONE DataFrame over a (possibly partitioned) parquet path, and
  * the shard fan-out/merge is Catalyst's job.
  *
  * Scale note (100 TB): `spark.read.parquet(dir)` on a partitioned layout
  * keeps partition pruning + predicate pushdown + column pruning intact;
  * nothing here forces a collect or a full scan.
  */
object Tables {
  /** Columns stored as parquet TIMESTAMP(NANOS), which Spark cannot read
    * natively ([PARQUET_TYPE_ILLEGAL]). We read them as raw nanosecond
    * longs (spark.sql.legacy.parquet.nanosAsLong) and truncate to
    * microseconds — the same truncation DuckDB 1.x applies on read, so
    * both engines see identical values. */
  private val nanoTsCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadPath(spark, s"$dir/$name.parquet", nanoTsCols.getOrElse(name, Nil))

  /** Path-level loader with the same ns handling (used by the Catalog). */
  def loadPath(spark: SparkSession, path: String,
      nanoTs: Seq[String] = Nil): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    val withTs = nanoTs.foldLeft(df) { (d, c) =>
      if (d.schema.fieldNames.contains(c) &&
          d.schema(c).dataType == LongType)
        d.withColumn(c, expr(s"timestamp_micros($c DIV 1000)"))
      else d
    }
    // normalize TIMESTAMP_NTZ (e.g. DuckDB/pandas-written parquet) to
    // session-local TIMESTAMP: the session runs UTC, so values are
    // identical, and timestamp functions (unix_micros & co) resolve
    withTs.schema.fields.foldLeft(withTs) { (d, f) =>
      if (f.dataType == TimestampNTZType)
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      else d
    }
  }
}
