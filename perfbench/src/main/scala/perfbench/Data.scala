package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros, xxhash64}
import org.apache.spark.sql.types._

/** Inputs and checksums. Expected results always come from Spark's parquet
  * reader over the corpus, never from the fixture or the connector. */
object Data {
  val OrderCols: IndexedSeq[Col] = IndexedSeq(
    Col("o_orderkey", ColType.Int64), Col("o_custkey", ColType.Int64), Col("o_orderstatus", ColType.Str),
    Col("o_totalprice", ColType.Dbl), Col("o_orderdate", ColType.Ts), Col("o_orderpriority", ColType.Str))
  val CustomerCols: IndexedSeq[Col] = IndexedSeq(
    Col("c_custkey", ColType.Int64), Col("c_name", ColType.Str), Col("c_nationkey", ColType.Int32),
    Col("c_acctbal", ColType.Dbl), Col("c_mktsegment", ColType.Str))
  val LineitemCols: IndexedSeq[Col] = IndexedSeq(
    Col("l_orderkey", ColType.Int64), Col("l_partkey", ColType.Int64), Col("l_suppkey", ColType.Int64),
    Col("l_linenumber", ColType.Int32), Col("l_quantity", ColType.Dbl), Col("l_extendedprice", ColType.Dbl),
    Col("l_discount", ColType.Dbl), Col("l_tax", ColType.Dbl), Col("l_returnflag", ColType.Str),
    Col("l_linestatus", ColType.Str), Col("l_shipdate", ColType.Ts))

  def sparkType(t: ColType): DataType = t match {
    case ColType.Int64 => LongType
    case ColType.Int32 => IntegerType
    case ColType.Dbl => DoubleType
    case ColType.Str => StringType
    case ColType.Ts => TimestampType
  }
  def schemaOf(cols: Seq[Col]): StructType =
    StructType(cols.map(c => StructField(c.name, sparkType(c.tpe))))

  /** The directory holding the scale-factor corpora: the one the library's
    * flagship query (`SparkEntry.entry`) reads from. */
  def corpusRoot(spark: SparkSession): Path = {
    val f = graft.SparkEntry.entry(spark).inputFiles.head
    Paths.get(java.net.URI.create(f)).getParent.getParent
  }

  /** A corpus table with its columns cast to the types the service exposes. */
  def load(spark: SparkSession, dir: Path, table: String, cols: Seq[Col]): DataFrame =
    spark.read.parquet(dir.resolve(s"$table.parquet").toString)
      .select(cols.map(c => col(c.name).cast(sparkType(c.tpe)).as(c.name)): _*)

  /** Collects a loaded table as fixture rows (timestamps as epoch micros). */
  def rowsOf(df: DataFrame, cols: Seq[Col]): Seq[Row] =
    df.select(cols.map(c => if (c.tpe == ColType.Ts) unix_micros(col(c.name)) else col(c.name)): _*)
      .collect().toSeq.map(r => new Row(Array.tabulate(cols.length)(i => if (r.isNullAt(i)) null else r.get(i))))

  /** One 64-bit hash per row over all columns. */
  def rowHash(df: DataFrame): org.apache.spark.sql.Column =
    xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).as("h")
  def hashed(df: DataFrame): DataFrame = df.select(rowHash(df))

  /** (rows, order-insensitive checksum) of per-row hashes. */
  def digest(hs: Array[Long]): (Long, Long) = (hs.length.toLong, hs.foldLeft(0L)(_ + _))

  def digestOf(df: DataFrame): (Long, Long) = digest(hashed(df).collect().map(_.getLong(0)))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x)) finally s.close()
  }

  /** Confirms the fixture serves exactly the corpus rows: every pre-rendered
    * row parses back to the values it was rendered from. */
  def selfCheck(es: EntitySet): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rendered = es.rendered.getOrElse(es.rows.map(es.render))
    java.util.stream.IntStream.range(0, es.rows.length).parallel().forEach { i =>
      val n = mapper.readTree(rendered(i))
      es.cols.zipWithIndex.foreach { case (c, j) =>
        val v = n.get(c.name)
        val back: Any = if (v == null || v.isNull) null else c.tpe match {
          case ColType.Int64 => v.asLong
          case ColType.Int32 => v.asInt
          case ColType.Dbl => v.asDouble
          case ColType.Str => v.asText
          case ColType.Ts => Fixture.parseMicros(v.asText)
        }
        if (back != es.rows(i).values(j))
          throw new IllegalStateException(s"fixture row $i of ${es.name}: ${c.name} serves $back, corpus has ${es.rows(i).values(j)}")
      }
    }
  }

  /** Zipf-weighted pick from a small pool: low indices repeat often. */
  def skewed[T](rng: scala.util.Random, pool: IndexedSeq[T]): T = {
    val w = pool.indices.map(i => 1.0 / (i + 1))
    var x = rng.nextDouble() * w.sum
    pool.indices.find { i => x -= w(i); x <= 0 }.map(pool).getOrElse(pool.last)
  }
}
