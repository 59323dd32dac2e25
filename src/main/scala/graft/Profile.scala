package graft

/** Dev profiling main (not shipped API): times one or more gates under
  * the EXACT bench session config, N repetitions each, and prints
  * per-repetition wall seconds plus Spark job/stage counts — the
  * measure-first loop of the optimization guide without paying for a
  * full 155-gate window per experiment.
  *
  * Usage: runMain graft.Profile <gate[,gate...]> [reps] [sfDir] [-v]
  * (-v prints each job's driver gap + run time and callsite; flags may
  * appear in any position — they are filtered out of the positional
  * arguments before parsing)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("-"))
    val names = pos(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (pos.length > 1) pos(1).toInt else 3
    val sfDir = if (pos.length > 2) pos(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()

    // job/stage/task counters via listener — how many Spark jobs a gate
    // fires is the first-order cost driver at gate scale. With -v, each
    // job's wall time + callsite prints too, which attributes DRIVER
    // latency (planning/codegen between jobs) vs task execution.
    val verbose = args.contains("-v")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val lastJobEnd = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val site = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?") + " [" + j.stageInfos.size + " stages, " +
          j.stageInfos.map(_.numTasks).sum + " tasks]"
        jobStart.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val now = System.nanoTime()
        Option(jobStart.remove(j.jobId)).foreach { case (t0, site) =>
          if (verbose) {
            val gap = (t0 - lastJobEnd.get()) / 1e9 // driver-only time before this job
            println(f"[job] id=${j.jobId} gap=$gap%.3f run=${(now - t0) / 1e9}%.3f  $site")
          }
        }
        lastJobEnd.set(now)
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })

    // same warm-up as Bench so rep numbers reflect steady state
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => }
    try {
      import spark.implicits._
      val wdir = java.nio.file.Files.createTempDirectory("graft-warm").toString
      val wt = graft.table.GraftTable.create(spark, s"$wdir/t",
        Seq((1L, "a")).toDF("k", "v").schema, primaryKeys = Seq("k"),
        options = Map("bucket" -> "2"))
      wt.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      wt.write(Seq((1L, "a2")).toDF("k", "v"))
      wt.read.count()
    } catch { case _: Throwable => }

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        spark.catalog.clearCache()
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          println(s"[profile] $name FAILED: $e"); -1L
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc()
        println(f"[profile] $name rep=$r wall=$dt%.3f s rows=$n jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
      }
    }
    spark.stop()
  }
}
