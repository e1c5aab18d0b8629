package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness for the optimization rounds (guide §1): runs named
  * `SparkEntry.queries` entries and attributes their wall time — job count,
  * stage count, task count, summed executor task time, shuffle bytes
  * read/written, bytes spilled, and the Janino compiles it triggered
  * (count and milliseconds; a compiled class is cached per source text and
  * class loader, so a warm repetition of the same plan reads 0). The
  * numbers expose WHERE a query's seconds go (scheduling overhead vs
  * compute vs shuffle vs code generation) without the UI.
  *
  * Usage: `sbt "runMain graft.ProfileQuery p11_mvj_refresh,p12_record_incremental [sfDir]"`
  * Default data dir: `$SPARK_GRAFT_SF_DIR` or /root/testdata/sf0.1.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val jobWallMs = new AtomicLong
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val taskTimeMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val spillB = new AtomicLong
    val inputB = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStarts.put(j.jobId, System.nanoTime())
        if (sys.env.contains("PROFILE_JOBS")) {
          val cs = j.stageInfos.map(_.name).mkString(" | ")
          println(s"  JOB ${j.jobId} n=${j.stageInfos.size} $cs")
        }
        ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStarts.remove(j.jobId)).foreach(t0 =>
          jobWallMs.addAndGet((System.nanoTime() - t0) / 1000000L)); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillB.addAndGet(m.diskBytesSpilled)
          inputB.addAndGet(m.inputMetrics.bytesRead)
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // same warm-up as Bench so first-query numbers aren't JVM init
    Tables(spark, sfDir, "lineitem").count()
    operators.Firehose.metricsFromEvents(spark, sfDir).count()

    // `PROFILE_STACKS=1`: sample THIS thread's stack every 20 ms while a
    // query runs and print the top frames after — attributes the driver-side
    // gaps between jobs (Catalyst planning vs file IO vs commit ceremony)
    // without an external profiler.
    val stackHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val driverThread = Thread.currentThread()
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (sys.env.contains("PROFILE_STACKS")) {
      val t = new Thread(() => {
        while (true) {
          if (sampling.get()) {
            val st = driverThread.getStackTrace
            // skip the deepest frames shared by everything; keep a window
            // of app-meaningful frames
            st.take(40).foreach { f =>
              val k = f.getClassName + "." + f.getMethodName
              stackHist.merge(k, 1, (a, b) => a + b)
            }
          }
          Thread.sleep(20)
        }
      })
      t.setDaemon(true)
      t.start()
    }

    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val reps = sys.env.getOrElse("PROFILE_REPS", "2").toInt
    names.foreach { name => (1 to reps).foreach { rep =>
      val fn = SparkEntry.queries(name)
      // settle the listener bus (private API — drain by pause), then zero
      // the counters for this query
      Thread.sleep(300)
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskTimeMs, shufReadB, shufWriteB, spillB, inputB, jobWallMs).foreach(_.set(0))
      spark.sparkContext.setJobDescription(name)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      sampling.set(true)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        println(s"$name ERR ${e.getMessage.take(120)}") }
      val wall = (System.nanoTime() - t0) / 1e9
      sampling.set(false)
      Thread.sleep(300)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      println(f"PROFILE $name%-28s r$rep wall=$wall%7.3fs jobs=${jobs.get}%3d jobWall=${jobWallMs.get / 1e3}%7.2fs stages=${stages.get}%4d tasks=${tasks.get}%5d taskTime=${taskTimeMs.get / 1e3}%8.2fs shufR=${shufReadB.get / 1e6}%9.2fMB shufW=${shufWriteB.get / 1e6}%9.2fMB spill=${spillB.get / 1e6}%8.2fMB input=${inputB.get / 1e6}%9.2fMB compiles=$compiles%4d compileMs=$compileMs%8.1f")
      spark.sparkContext.setJobDescription(null)
    } }
    if (sys.env.contains("PROFILE_STACKS")) {
      import scala.jdk.CollectionConverters._
      println("TOP DRIVER FRAMES (sampled every 20ms across all reps):")
      stackHist.asScala.toSeq.sortBy(-_._2.intValue).take(60).foreach {
        case (k, n) => println(f"  $n%6d  $k")
      }
    }
    spark.stop()
  }
}
