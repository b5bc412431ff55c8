package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Round-7 optimization harness (guide §1.4): per-query timing with
  * repeats plus noop-sink isolation, and formatted-plan dumps, WITHOUT
  * touching the frozen graft.Bench measurement contract.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra time q1 q2 ..."   — warmup + R timed
  *       runs per query; prints min/median of both count() (the Bench
  *       action) and a noop sink (isolates compute from the count prune).
  *       The summary adds the Spark jobs, stages, tasks and task seconds
  *       of each query's 2R timed runs, attributed by job group.
  *   sbt "runMain graft.BenchExtra explain OUTDIR SUFFIX q1 q2 ..." —
  *       writes OUTDIR/<query>_<SUFFIX>.txt with explain("formatted").
  *
  * The session comes from graft.Bench.newSession, so numbers and plans
  * are comparable with the graded bench.
  */
object BenchExtra {

  /** Spark work per job group: jobs and stages started under the group,
    * and its tasks with their summed run time. Events arrive on the one
    * listener-bus thread; read [[of]] only after the bus has drained
    * (spark.stop() drains it), never from a global before/after snapshot. */
  private final class GroupWork extends SparkListener {
    private val work = mutable.Map.empty[String, Array[Long]] // jobs, stages, tasks, task ms
    private val stageGroup = mutable.Map.empty[Int, String]
    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    private def add(g: String, i: Int, n: Long): Unit =
      work.getOrElseUpdate(g, new Array[Long](4))(i) += n

    override def onJobStart(j: SparkListenerJobStart): Unit =
      group(j.properties).foreach(add(_, 0, 1))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      group(s.properties).foreach { g =>
        stageGroup(s.stageInfo.stageId) = g; add(g, 1, 1)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      stageGroup.get(t.stageId).foreach { g =>
        add(g, 2, 1); add(g, 3, t.taskInfo.duration)
      }

    def of(g: String): String = {
      val Array(jobs, stages, tasks, ms) = work.getOrElse(g, new Array[Long](4))
      f"jobs=$jobs stages=$stages tasks=$tasks task_s=${ms / 1000.0}%.2f"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeats = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPEATS", "3").toInt
    val mode = args.headOption.getOrElse("time")
    val spark = Bench.newSession(cpus)

    mode match {
      case "explain" =>
        val outDir = args(1)
        val suffix = args(2)
        val names =
          if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        new java.io.File(outDir).mkdirs()
        names.foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            try {
              val plan = fn(spark, sfDir).queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
                plan.getBytes("UTF-8"))
              println(s"wrote $outDir/${name}_$suffix.txt")
            } catch { case e: Throwable =>
              println(s"ERROR $name: ${e.getClass.getSimpleName} ${e.getMessage}") }
          }
        }
        spark.stop()

      case _ => // time
        val names =
          if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val work = new GroupWork
        spark.sparkContext.addSparkListener(work)
        val cal0 = Bench.calibrate()
        println(f"calibration_single=$cal0%.3f")
        val rows = names.flatMap { name =>
          SparkEntry.queries.get(name).map { fn =>
            spark.sparkContext.setJobGroup(s"warmup:$name", s"warmup:$name")
            try fn(spark, sfDir).count() catch { case _: Throwable => () }
            def timed(action: String): Seq[Double] = (0 until repeats).map { i =>
              spark.sparkContext.setJobGroup(name, s"$action:$name#$i")
              val t0 = System.nanoTime()
              try {
                val df = fn(spark, sfDir)
                if (action == "noop")
                  df.write.format("noop").mode("overwrite").save()
                else df.count()
                (System.nanoTime() - t0) / 1e9
              } catch { case e: Throwable =>
                println(s"ERROR $name: ${e.getClass.getSimpleName}"); -1.0 }
            }
            val counts = timed("count")
            val noops = timed("noop")
            def fmt(xs: Seq[Double]) = {
              val ok = xs.filter(_ >= 0).sorted
              if (ok.isEmpty) "err"
              else f"min=${ok.head}%.3f med=${ok(ok.size / 2)}%.3f"
            }
            val line = f"$name%-28s count[${fmt(counts)}]  noop[${fmt(noops)}]"
            println(line)
            name -> line
          }
        }
        val cal1 = Bench.calibrate()
        println(f"calibration_single_end=$cal1%.3f")
        spark.stop() // drains the listener bus: the work counts are final
        println(s"== summary (work over ${2 * repeats} timed runs per query) ==")
        rows.foreach { case (name, line) => println(s"$line  work[${work.of(name)}]") }
    }
  }
}
