package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement harness (guide §1): per-query job/stage/task census.
  *
  * Runs every selected query once COLD (ignored) and once WARM, counting
  * Spark jobs, stages, tasks and summed task time for the warm run via a
  * SparkListener. Job count × per-job fixed cost approximates the sf0.1
  * board (the r17 finding), so this ranks where driver-scheduled rounds
  * — not data volume — carry the wall. Output: one TSV line per query on
  * stdout (name, wall_s, jobs, stages, tasks, task_time_s), sorted by
  * job count descending. Not part of the driver contract; a dev tool
  * like PairSweep.
  */
object Census {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    BoundedWindows.quietWindowWarnings()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskTimeMs.addAndGet(e.taskInfo.duration)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val keep = NameFilter(sys.env.getOrElse("SPARK_GRAFT_BENCH_FILTER", ""))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => keep(n) }

    // The listener bus is async and private[spark]; settle by polling the
    // counters until they stop moving (census precision, not correctness).
    def drainListeners(): Unit = {
      var prev = (-1, -1, -1)
      var cur = (jobs.get, stages.get, tasks.get)
      var spins = 0
      while (cur != prev && spins < 100) {
        Thread.sleep(50)
        prev = cur
        cur = (jobs.get, stages.get, tasks.get)
        spins += 1
      }
    }

    val rows = selected.flatMap { case (name, fn) =>
      try {
        // cold pass: JIT/codegen/classloading — not what the census ranks
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        drainListeners()
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wallS = (System.nanoTime() - t0) / 1e9
        drainListeners()
        Some((name, wallS, jobs.get, stages.get, tasks.get,
          taskTimeMs.get / 1e3))
      } catch {
        case e: Throwable =>
          System.err.println(s"[census] $name failed: ${e.getMessage}")
          None
      }
    }
    println("query\twall_s\tjobs\tstages\ttasks\ttask_time_s")
    rows.sortBy(-_._3).foreach { case (n, w, j, st, tk, tt) =>
      println(f"$n\t$w%.3f\t$j\t$st\t$tk\t$tt%.2f")
    }
    val (tw, tj, tst, ttk, ttt) = rows.foldLeft((0.0, 0, 0, 0, 0.0)) {
      case ((w, j, st, tk, tt), r) =>
        (w + r._2, j + r._3, st + r._4, tk + r._5, tt + r._6)
    }
    println(f"TOTAL\t$tw%.1f\t$tj\t$tst\t$ttk\t$ttt%.1f")
    spark.stop()
  }
}
