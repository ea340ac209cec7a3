package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-key bench profiler for optimization rounds: runs each key in
  * graft.Bench's session ([[graft.util.Session]], width from
  * `SPARK_GRAFT_CPUS`) after Bench's warm-up and reports, per run, wall
  * seconds plus the job/stage/task counts and summed task time a
  * SparkListener observed — the "is this key overhead-bound or
  * compute-bound" split that a bare timing hides.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.KeyProf <sfDir> <key>[,key...] [reps]"
  */
object KeyProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = graft.SparkEntry.select(Some(args(1)))
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.util.Session()
    // Optional conf overrides for A/B experiments:
    //   SPARK_GRAFT_PROF_CONF="k1=v1;k2=v2"
    sys.env.get("SPARK_GRAFT_PROF_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    // Bench's warm-up, so run 1 is not codegen bring-up.
    graft.Bench.warmUp(spark)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val si = s.stageInfo
        stageAgg.merge(si.stageId, (si.name.takeWhile(_ != '\n').take(90), si.numTasks, 0L),
          (a, b) => (b._1, b._2, a._3))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          stageAgg.merge(t.stageId, ("?", 0, t.taskInfo.duration), (a, b) =>
            (a._1, a._2, a._3 + b._3))
        }
      }
    })
    val verbose = sys.env.get("SPARK_GRAFT_PROF_STAGES").contains("1")

    keys.foreach { case (k, fn) =>
      (1 to reps).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L); stageAgg.clear()
        // same memo discipline as Bench (VERDICT r18 #3): every run pays
        // its shared-kernel cost, so profiles match bench numbers
        graft.util.Memos.dropResults(spark.sparkContext)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events land asynchronously; give the bus a beat
        Thread.sleep(150)
        println(f"[keyprof] $k%-28s run$r wall=$wall%7.3fs jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d taskSum=${taskMs.get / 1000.0}%7.2fs rows=$n")
        if (verbose && r == reps) {
          import scala.jdk.CollectionConverters._
          stageAgg.asScala.toSeq.sortBy(-_._2._3).take(8).foreach {
            case (id, (name, nt, ms)) =>
              println(f"[keyprof]    stage$id%4d ${ms / 1000.0}%7.2fs tasks=$nt%4d  $name")
          }
        }
      }
    }
    spark.stop()
  }
}
