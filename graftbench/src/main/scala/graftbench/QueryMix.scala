package graftbench

import java.io.File
import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.rand

/** Row count and order-free content hash of one query result. */
final case class Digest(rows: Long, hash: String)

/** One pass over the query mix: per query, the time of the registered
  * query function (which may run eager sub-jobs) and of `.count()`.
  */
final case class Pass(buildS: Map[String, Double], actionS: Map[String, Double],
    rows: Map[String, Long], failures: Seq[String]) {
  def totalS: Double = buildS.values.sum + actionS.values.sum
}

/** The query_mix workload: CPU-heavy registered queries from
  * `graft.SparkEntry.queries`, one from every query object but EngineOps.
  */
final class QueryMix(spark: SparkSession, tracer: Tracer, dataDir: String,
    expected: Map[String, Digest]) {
  import QueryMix._

  def pass(): Pass = {
    val build = Map.newBuilder[String, Double]
    val action = Map.newBuilder[String, Double]
    val rows = Map.newBuilder[String, Long]
    val failures = Seq.newBuilder[String]
    Names.foreach { name =>
      tracer.span(s"queries.$name") {
        val t0 = System.nanoTime()
        val df = tracer.span("queries.build")(graft.SparkEntry.queries(name)(spark, dataDir))
        val t1 = System.nanoTime()
        val n = tracer.span("queries.action")(df.count())
        val t2 = System.nanoTime()
        build += name -> (t1 - t0) / 1e9
        action += name -> (t2 - t1) / 1e9
        rows += name -> n
        if (n != expected(name).rows)
          failures += s"$name: $n rows, expected ${expected(name).rows}"
      }
    }
    Pass(build.result(), action.result(), rows.result(), failures.result())
  }

  /** Collects every result and compares its content hash with `expected`. */
  def checkContent(): Seq[String] = Names.flatMap { name =>
    val d = digest(spark, dataDir, name)
    if (d == expected(name)) None else Some(s"$name: digest $d, expected ${expected(name)}")
  }
}

object QueryMix {
  /** The mix, in run order. One per query object (BpeOps, DedupOps,
    * EventOps, GraphOps, MultimodalOps, PipelineOps, Relational,
    * SimilarityOps, SuffixOps, TextOps); EngineOps is the engine
    * workloads' territory.
    */
  val Names: Seq[String] = Seq(
    "q21_supplier_chain", "q_triangles", "d16_keyframe_neardup", "d21_suffix_dup",
    "tx_bigram_lm", "ann_ivfpq_topk", "ev_asof_skew", "tx_bpe_apply",
    "mm_wav_features", "tx_langid_eval")

  /** Tables the mix reads; the fixture holds exactly these. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Sig = new MathContext(9)

  /** Order-free digest: the sum (mod 2^64) of a 64-bit hash of each row's
    * canonical text. Doubles are rounded to 9 significant digits, so
    * summation order inside Spark cannot change the digest.
    */
  def digest(spark: SparkSession, dataDir: String, name: String): Digest = {
    val rows = graft.SparkEntry.queries(name)(spark, dataDir).collect()
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val h = md.digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    Digest(rows.length.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new JBigDecimal(d).round(Sig).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case o => o.toString
  }

  /** Writes each table of `from` to `to` with its rows in a seeded order
    * (a local sort on a seeded random key, no shuffle). The content is
    * unchanged, so the expected digests hold for every seed.
    */
  def writeInputs(spark: SparkSession, from: File, to: File, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    Tables.foreach { t =>
      spark.read.parquet(new File(from, s"$t.parquet").getPath)
        .sortWithinPartitions(rand(rnd.nextLong()))
        .write.mode("overwrite").parquet(new File(to, s"$t.parquet").getPath)
    }
  }

  def readExpected(f: File): Map[String, Digest] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    Names.map { n =>
      val e = m.get(n)
      n -> Digest(e.get("rows").asLong, e.get("hash").asText)
    }.toMap
  }
}
