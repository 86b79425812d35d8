package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count plus, per
  * output column, the sum of its values (floating columns, compared at a
  * 1e-9 relative tolerance as tools/check.py does) or the sum of 32-bit
  * value hashes (every other column, compared exactly).
  *
  * Computing it is the timed action of every job. Unlike `count()`, which
  * Catalyst can collapse to fewer operators than the query has, the
  * aggregate needs every column of every row. */
final case class Digest(rows: Long, cols: Seq[String]) {
  def render: String = (rows.toString +: cols).mkString(" ")

  /** None when `expected` matches, else what differs. */
  def mismatch(expected: Digest): Option[String] =
    if (rows != expected.rows) Some(s"rows ${expected.rows} expected, got $rows")
    else if (cols.size != expected.cols.size)
      Some(s"${expected.cols.size} columns expected, got ${cols.size}")
    else cols.zip(expected.cols).zipWithIndex.collectFirst {
      case ((got, want), i) if !Digest.same(got, want) => s"column $i: $want expected, got $got"
    }
}

object Digest {
  def frame(df: DataFrame): DataFrame = {
    val types = df.schema.fields.map(_.dataType)
    val named = df.toDF(types.indices.map(i => s"c$i"): _*)
    val aggs = count(lit(1)) +: types.toSeq.zipWithIndex.map { case (t, i) =>
      val c = col(s"c$i")
      t match {
        case FloatType | DoubleType => sum(c.cast(DoubleType))
        case _ => sum(xxhash64(hashable(c, t)).bitwiseAND(0xffffffffL))
      }
    }
    named.agg(aggs.head, aggs.tail: _*)
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c)) // maps are not hashable
    case _ => c
  }

  def of(df: DataFrame): Digest = read(frame(df), df.schema)

  /** Runs `frame` (built by [[frame]] over a frame of schema `schema`). */
  def read(frame: DataFrame, schema: StructType): Digest = {
    val types = schema.fields.map(_.dataType)
    val r = frame.collect()(0)
    Digest(r.getLong(0), types.indices.map { i =>
      if (r.isNullAt(i + 1)) "null"
      else types(i) match {
        case FloatType | DoubleType => "f:" + r.getDouble(i + 1).toString
        case _ => "h:" + r.getLong(i + 1).toString
      }
    })
  }

  def same(got: String, want: String): Boolean =
    if (got == want) true
    else if (got.startsWith("f:") && want.startsWith("f:")) {
      val (a, b) = (got.drop(2).toDouble, want.drop(2).toDouble)
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
    } else false

  /** Expected digests, one line per job: `<scale> <job> <rows> <col>...`. */
  def load(path: Path): Map[(String, String), Digest] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split(" ")
        (f(0), f(1)) -> Digest(f(2).toLong, f.drop(3).toSeq)
      }.toMap

  def save(path: Path, all: Map[(String, String), Digest]): Unit = {
    val lines = all.toSeq.sortBy(_._1).map { case ((scale, job), d) => s"$scale $job ${d.render}" }
    Files.write(path, ("# scale job rows column-digests (h: hash sum, f: float sum)" +: lines).asJava)
  }
}
