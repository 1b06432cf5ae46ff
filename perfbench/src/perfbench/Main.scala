package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <sf dir> --work <dir> --cpus <k>
  *
  * Writes `<work>/result.json` (every op and the run's scalars) and, when
  * tracing, `<work>/spans.jsonl`. `perfbench/run.py` turns those into
  * metrics. `--workload selftest` runs the correctness checks' own tests.
  */
object Main {

  private def seconds[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val code = try run(args) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Int = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opt.getOrElse("workload", "")
    if (name == "selftest") return SelfTest.run()
    val make = Workloads.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'"))
    val cpus = opt("cpus").toInt
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val spark = Session.build(cpus)
    Session.check(spark, cpus)
    val sessionS = Jvm.sinceStartS
    val tracer = if (opt.get("trace").contains("1")) Some(new Tracer(spark)) else None
    val timed = new Recorder(spark, tracer)
    val ctx = new Ctx(spark, opt("data"), work, opt("seed").toLong,
      opt("seconds").toDouble, timed)
    val w = make()

    val prepareS = seconds(w.prepare(ctx))
    val fixtureS = seconds(w.fixture(ctx))
    val warmS = seconds(w.warmUp(ctx))
    val setupS = Jvm.sinceStartS
    tracer.foreach(_.install())
    System.gc()
    val gc0 = Jvm.gcMs
    w.measure(ctx)
    val drainNs = Maintenance.drain(spark)
    val windowS = (System.nanoTime() - ctx.windowStartNs) / 1e9
    val gcMs = Jvm.gcMs - gc0
    w.afterWindow(ctx)
    // a traced run then measures one untraced window in the same JVM:
    // the base its tracing overhead is reported against
    val baseline = tracer.map { t =>
      t.settle()
      t.uninstall()
      ctx.rec = new Recorder(spark, None)
      ctx.baseline = true
      System.gc()
      w.measure(ctx)
      Maintenance.drain(spark)
      ctx.rec.ops
    }
    val finishS = seconds(w.finish(ctx))
    w.release()
    val heapMb = Jvm.liveHeapMb()

    val result = Json.obj(Seq[(String, Any)](
      "workload" -> name, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "cpus" -> cpus,
      "traced" -> tracer.isDefined,
      "prepare_s" -> prepareS, "finish_s" -> finishS,
      "session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmS,
      "setup_s" -> setupS,
      "window_s" -> windowS, "drain_ms" -> drainNs / 1e6, "gc_ms" -> gcMs.toDouble,
      "heap_live_mb" -> heapMb,
      "problems" -> ctx.problems) ++ ctx.out ++
      Seq("ops" -> timed.ops.map(o => RawJson(o.toJson)),
        "baseline_ops" -> baseline.map(_.map(o => RawJson(o.toJson)))): _*)
    Files.writeString(Paths.get(work, "result.json"), result)
    tracer.foreach { t =>
      val w = Files.newBufferedWriter(Paths.get(work, "spans.jsonl"))
      try {
        timed.ops.foreach(o => { w.write(o.toJson); w.newLine() })
        t.eventLines.foreach(l => { w.write(l); w.newLine() })
      } finally w.close()
    }
    spark.stop()
    0
  }
}
