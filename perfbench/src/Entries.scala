package perfbench

import java.math.RoundingMode

import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-insensitive content fingerprint of an entry's output: the row
  * count plus the sum of per-row hashes. Columns are taken in name order
  * and floating-point values rounded to 6 decimals, as the DuckDB oracle
  * comparison canonicalizes them.
  */
object Fingerprint {
  def of(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, h) = df.rdd.map(r => (1L, rowHash(r, order)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    (n, f"$h%016x")
  }

  def rowHash(r: Row, order: Array[Int]): Long = {
    val bytes = order.map(i => canon(r.get(i))).mkString("\u0001").getBytes("UTF-8")
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("SHA-256").digest(bytes)).getLong
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** The query workload: SparkEntry functions, each over its own input
  * directory, each op being the entry function plus `.count()`.
  */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, inputs: Map[String, String],
                          expected: Map[String, (Long, String)], seed: Long) {
  private val fns = SparkEntry.queries
  private val names = inputs.keys.toSeq.sorted
  Util.require(names.forall(fns.contains), s"unknown entries: ${names.filterNot(fns.contains)}")
  Util.require(names.forall(expected.contains), s"entries without a fingerprint: ${names.filterNot(expected.contains)}")
  private val rng = new scala.util.Random(seed)
  /** Entries whose full fingerprint mismatched; every op of theirs fails. */
  val wrong = scala.collection.mutable.Set.empty[String]

  /** Layer a SparkEntry belongs to, by its family prefix. */
  def family(name: String): String = QueryWorkload.Families(name.head)

  /** One pass in a fresh seeded order. With `verify` each op computes the
    * output's full fingerprint in place of the row count.
    */
  def pass(op: Recorder, verify: Boolean): Unit = rng.shuffle(names).foreach { name =>
    try op(name) {
      val frame = tracer.span("query.build")(fns(name)(spark, inputs(name)))
      tracer.span("query.action")(if (verify) Fingerprint.of(frame) else (frame.count(), ""))
    } { case (rows, hash) =>
      if (verify && (rows, hash) != expected(name)) {
        Util.warn(s"$name output ${(rows, hash)} != fingerprint ${expected(name)}")
        wrong += name
      }
      rows == expected(name)._1 && !wrong(name)
    } catch { case NonFatal(_) => () } // recorded as a failed op
    spark.catalog.clearCache()
  }
}

object QueryWorkload {
  val Families: Map[Char, String] = Map('q' -> "queries.relational", 't' -> "ops.text", 's' -> "ops.similarity",
    'd' -> "ops.dedup", 'm' -> "ops.multimodal", 'p' -> "ops.pipeline", 'g' -> "ops.graph")
}
