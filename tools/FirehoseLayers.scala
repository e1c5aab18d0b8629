import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{FirehoseApp, Sessions}
import graft.config.GraftConfig

/** Per-input layers of the firehose deployment wiring (`FirehoseApp.start`,
  * pull mode), read without graftbench's traced branch.
  *
  *     FirehoseLayers <seed> <files> <from>
  *
  * Moves `files` graftbench-generated inputs (`Gen.firehoseFile(seed,
  * Main.FirehoseSpec, i)`) one at a time into the app's source directory
  * and waits for each (`processAllAvailable`). For every input from `from`
  * on it prints the batch's stream durations, state commit and Janino
  * compiles, and each Spark stage's tasks, run time, CPU time and wall
  * time (a `SparkListener`). At the end it prints the single-task parse stage's
  * figures over those inputs and the processes the JVM forked per input (a
  * JFR `jdk.ProcessStart` recording). Build and run it as the verify
  * skill's step 7 says.
  */
object FirehoseLayers {
  final case class Stage(tasks: Int, runMs: Long, cpuMs: Long, wallMs: Long)

  def main(args: Array[String]): Unit = {
    val Array(seed, files, from) = args.map(_.toInt)
    val spark = Sessions.local(4, "firehose-layers")
    val stages = ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
        val i = e.stageInfo
        stages += Stage(i.numTasks, i.taskMetrics.executorRunTime, i.taskMetrics.executorCpuTime / 1000000L,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L))
      }
    })
    val base = Files.createTempDirectory("firehose-layers")
    val in = Files.createDirectories(base.resolve("in"))
    val staging = Files.createDirectories(base.resolve("staging"))
    val running = FirehoseApp.start(spark, GraftConfig(Map("app.source" -> in.toString, "app.mode" -> "pull",
      "prometheus.listener.port" -> "0")), base.resolve("checkpoint").toString)
    val forks = new jdk.jfr.Recording()
    forks.enable("jdk.ProcessStart")
    val parse = ArrayBuffer.empty[Stage]
    for (i <- 0 until files) {
      if (i == from) forks.start()
      val f = graftbench.Gen.firehoseFile(seed.toLong, graftbench.Main.FirehoseSpec, i)
      val staged = staging.resolve(f"part-$i%05d.json")
      Files.write(staged, f.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      stages.synchronized(stages.clear())
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      Files.move(staged, in.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
      running.query.processAllAvailable()
      val ms = (System.nanoTime() - t0) / 1000000L
      if (i >= from) {
        val p = running.query.lastProgress
        val d = p.durationMs.asScala
        println(f"input $i%3d: $ms%4d ms  triggerExecution ${d("triggerExecution")} addBatch ${d("addBatch")} " +
          s"walCommit ${d("walCommit")} commitOffsets ${d("commitOffsets")} " +
          s"state commitTimeMs ${p.stateOperators.head.commitTimeMs} " +
          s"compiles ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
        val st = stages.synchronized(stages.toList)
        st.foreach(s => println(f"    stage: tasks ${s.tasks}%3d run ${s.runMs}%4d cpu ${s.cpuMs}%4d wall ${s.wallMs}%4d ms"))
        parse ++= st.find(_.tasks == 1)
      }
    }
    forks.stop()
    val jfr = Files.createTempFile("firehose-layers", ".jfr")
    forks.dump(jfr)
    val byCommand = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .groupBy(_.getString("command").split(' ').head).map { case (c, es) => c -> es.size }
    val n = files - from
    def med(f: Stage => Long): Long = parse.map(f).sorted.apply(parse.size / 2)
    println(s"parse stage over ${parse.size} inputs, medians: run ${med(_.runMs)} cpu ${med(_.cpuMs)} " +
      s"wall ${med(_.wallMs)} ms (cpu ${parse.map(_.cpuMs).sorted.mkString(" ")})")
    println(s"forks per input over $n inputs: " +
      (if (byCommand.isEmpty) "none"
       else byCommand.toSeq.sorted.map { case (c, k) => f"$c ${k.toDouble / n}%.1f" }.mkString(", ")))
    running.stop()
    spark.stop()
    Files.delete(jfr)
    org.apache.spark.network.util.JavaUtils.deleteRecursively(base.toFile)
  }
}
