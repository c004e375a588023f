package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Shows that every output check rejects a corrupted result: one real
  * pass, then each corruption the workload defines must fail at least one
  * check, while the real outputs pass them all; then that the model-store
  * isolation check sees a pass that reuses an earlier pass's store. */
object SelfTest {
  def run(spark: SparkSession, w: Workload, work: String): Unit = {
    val s = spark.newSession()
    val models = s"$work/models/selftest"; new File(models).mkdirs()
    s.conf.set("spark.graft.models.dir", models)
    val out = s"$work/out/selftest"; new File(out).mkdirs()
    val ctx = PassCtx(s, new Tracer(false, spark), out, s"$out/")
    val o = w.pass(ctx)
    val clean = w.check(ctx, o).checks.filterNot(_._2)
    require(clean.isEmpty, s"clean outputs failed checks: $clean")
    val bad = w.corruptions(ctx, o).map { case (what, co) =>
      val failed = w.check(ctx, co).checks.filterNot(_._2).map(_._1)
      println(s"selftest ${w.name}: corrupt $what -> rejected by ${failed.mkString(",")}")
      what -> failed.nonEmpty
    }
    val missed = bad.filterNot(_._2).map(_._1)
    println(s"selftest ${w.name}: ${bad.size - missed.size}/${bad.size} corruptions rejected")
    if (missed.nonEmpty) sys.error(s"corruptions not rejected: ${missed.mkString(",")}")
    reusedStore(spark, w, work, models)
  }

  /** The isolation check counts real loads: a traced pass on a new session
    * over the store the pass above filled must report durable loads. */
  private def reusedStore(spark: SparkSession, w: Workload, work: String, models: String): Unit =
    if (Main.committed(models).isEmpty)
      println(s"selftest ${w.name}: the pass commits no durable artifact; load counting not exercised")
    else {
      val s = spark.newSession()
      s.conf.set("spark.graft.models.dir", models)
      val plan = new PlanCounters
      s.listenerManager.register(new PlanListener(plan))
      val tr = new Tracer(true, spark)
      tr.probe = new PassProbe(s, plan, models)
      val out = s"$work/out/selftest-reuse"; new File(out).mkdirs()
      tr.call("pass")(w.pass(PassCtx(s, tr, out, s"$out/")))
      val loads = tr.durableLoads
      s.listenerManager.clear()
      println(s"selftest ${w.name}: pass over a reused model store -> $loads durable loads")
      if (loads == 0) sys.error("a pass over a reused model store counted no durable load")
    }
}
