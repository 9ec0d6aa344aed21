package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Per-slot cost decomposition (dev tool, not a driver slot).
  *
  * The bench's timed region is `fn(spark, sfDir).count()` — one number
  * per run that folds together (a) DataFrame CONSTRUCTION, which for
  * slots with eager `localCheckpoint(true)` pins runs real Spark jobs,
  * (b) analysis + optimization + physical PLANNING of the final frame,
  * and (c) EXECUTION of the count job(s). At sf0.1 the data is ~15 MB
  * total, so wall time per slot is often dominated by (a)/(b) — the
  * r16 Lloyd fusion found 0.43 s/round of pure query prep vs 0.045 s
  * of execution. This tool splits the three phases per slot and counts
  * jobs/stages/tasks, so optimization effort lands where the time is.
  *
  * Usage: sbt "runMain graft.tools.SlotProfile slotA,slotB[,...]"
  *   (or "all", or "top:NN" for the NN slowest by one probe run)
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32).
  */
object SlotProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += s.stageInfo.numTasks
      }
    })

    val sel = args.headOption.getOrElse("all")
    val names: Seq[String] =
      if (sel == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (sel.startsWith("top:")) {
        val n = sel.stripPrefix("top:").toInt
        val probe = SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[prof] $k probe failed: ${e.getMessage}") }
          k -> (System.nanoTime() - t0) / 1e9
        }
        probe.sortBy(-_._2).take(n).map(_._1)
      } else sel.split(",").map(_.trim).filter(_.nonEmpty).toSeq

    println(f"${"slot"}%-32s ${"constr"}%7s ${"plan"}%7s ${"exec1"}%7s ${"exec2"}%7s ${"exec3"}%7s ${"jobs"}%5s ${"stage"}%5s ${"tasks"}%6s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      System.gc(); Thread.sleep(200)
      jobs = 0; stages = 0; tasks = 0
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        // warm re-runs rebuild the frame like the bench does
        fn(spark, sfDir).count(); val t5 = System.nanoTime()
        // job/stage/task count of the LAST warm run only — the
        // bench-shaped steady state (cold construction above may
        // include one-time cached-artifact builds). Listener events
        // deliver asynchronously (the r16 advice item): settle the bus
        // before resetting and after the run so stragglers from the
        // previous run don't land in this one's counters.
        // exec3 starts AFTER the settle sleep: construct + count only
        Thread.sleep(300)
        jobs = 0; stages = 0; tasks = 0
        val t6 = System.nanoTime()
        fn(spark, sfDir).count(); val t7 = System.nanoTime()
        Thread.sleep(300)
        def s(a: Long, b: Long) = (b - a) / 1e9
        println(f"$name%-32s ${s(t0, t1)}%7.3f ${s(t1, t2)}%7.3f ${s(t2, t3)}%7.3f ${s(t3, t5)}%7.3f ${s(t6, t7)}%7.3f $jobs%5d $stages%5d $tasks%6d")
      } catch { case e: Throwable =>
        println(f"$name%-32s FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
