package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.llm.Similarity

/** Fingerprints each planned query twice: a fresh run, and the result
  * `graft.Verify` wrote for the oracle check in `calibrate.py`, which
  * must agree. Applies the test suite's bounds to the queries that have
  * no oracle.
  *
  *     perfbench.Calibrate <plan.json> <raw-out.json>
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val plan = Harness.mapper.readTree(new File(args(0)))
    val dir = plan.get("data_dir").asText
    val verified = plan.get("verify_dir").asText
    val spark = Harness.session(plan.get("cores").asInt, plan.get("work_dir").asText)
    val names = plan.get("names").elements.asScala.map(_.asText).toSeq
    val results = names.map { n =>
      val r: Map[String, String] =
        try {
          Map("fingerprint" -> Fingerprint.consume(SparkEntry.queries(n)(spark, dir)).toString,
            "checked_fingerprint" ->
              Fingerprint.consume(spark.read.parquet(s"$verified/$n")).toString) ++
            bound(spark, dir, n).map("bound" -> _)
        } catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }
      n -> r
    }.toMap
    Harness.mapper.writeValue(new File(args(1)), results)
    spark.stop()
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] = {
    import df.sparkSession.implicits._
    df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
  }

  /** The test suite's acceptance bound for the workload query without
    * an oracle (`SimilaritySpec`): "ok", or what failed. None for every
    * other query. */
  def bound(spark: SparkSession, dir: String, name: String): Option[String] = name match {
    case "q_llm_ann_ivf" =>
      val brute = pairs(Similarity.bruteTopK(spark, dir))
      val recall = (brute intersect pairs(Similarity.ivfTopK(spark, dir))).size.toDouble / brute.size
      Some(if (recall >= 0.3) "ok" else s"recall $recall < 0.3")
    case _ => None
  }
}
