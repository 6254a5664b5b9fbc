package graft.func

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The per-query scoped session ([[Confs.scopedSession]] /
  * SessionShim): conf pinning that HOLDS at the caller's later action,
  * and rule/strategy injection isolated from the parent session — the
  * capability the star query's lazy form rides. */
class ScopedSessionSpec extends SparkSpec {

  test("scoped confs pin to the scoped session, hold at action time, " +
      "and never touch the parent") {
    val key = "spark.sql.shuffle.partitions"
    val parentParts = spark.conf.get(key)
    assert(parentParts !== "7", "fixture degenerate: parent already at 7")
    val scoped = Confs.scopedSession(spark, Seq(
      key -> "7", "spark.sql.adaptive.enabled" -> "false"))
    // same context/shared state; own conf
    assert(scoped.sparkContext eq spark.sparkContext)
    assert(scoped.conf.get(key) === "7")
    assert(spark.conf.get(key) === parentParts)
    // the conf holds when the CALLER acts on a lazy frame later — the
    // exact property the set/try/restore idiom cannot provide
    val df = scoped.range(100).groupBy(col("id") % 3).count()
    assert(df.queryExecution.toRdd.getNumPartitions === 7)
    // an identical parent-session frame does not see the override
    val pdf = spark.range(100).groupBy(col("id") % 3).count()
    assert(pdf.queryExecution.toRdd.getNumPartitions !== 7)
  }

  test("scoped strategy/rule injection never mutates the parent's hooks") {
    val marker = new SparkStrategy {
      override def apply(plan: LogicalPlan): Seq[SparkPlan] = Nil
    }
    val scoped = Confs.scopedSession(spark, Nil,
      s => s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ marker)
    assert(scoped.experimental.extraStrategies.contains(marker))
    assert(!spark.experimental.extraStrategies.contains(marker),
      "scoped injection leaked into the parent session")
  }

  test("minting scoped sessions registers nothing on the shared " +
      "listener bus") {
    // a mint that subscribed anything to the SHARED bus would grow the
    // listener count per query and pin every cloned SessionState; some
    // mints run a real action so used sessions are covered too
    import org.apache.spark.graftshim.ListenerShim
    val sc = spark.sparkContext
    ListenerShim.drainListenerBus(sc)
    val before = ListenerShim.listenerCount(sc)
    for (i <- 0 until 200) {
      val s = Confs.scopedSession(spark,
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      if (i % 50 == 0) {
        assert(s.conf.get("spark.sql.autoBroadcastJoinThreshold") === "-1")
        assert(s.range(2).count() === 2L)
      }
    }
    ListenerShim.drainListenerBus(sc)
    assert(ListenerShim.listenerCount(sc) === before)
  }

  test("the native as-of plans inside a scoped session and leaves the " +
      "parent's hooks exactly as they were") {
    val priorStrategies = spark.experimental.extraStrategies
    val priorRules = spark.experimental.extraOptimizations
    val scoped = Confs.scopedSession(spark, Nil)
    // NativeAsOf.asOf installs strategy+rule into the session it is
    // GIVEN — on a scoped session that is per-query injection
    val native = graft.plans.NativeAsOf.latestOrderQuery(scoped, Sf)
      .select("event_id", "o_orderkey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val composed = graft.operators.AsOf.latestOrderQuery(spark, Sf)
      .select("event_id", "o_orderkey")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(native === composed)
    assert(native.nonEmpty)
    assert(spark.experimental.extraStrategies === priorStrategies)
    assert(spark.experimental.extraOptimizations === priorRules)
  }
}
