package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: session and seeded inputs, then the
  * workload's operation, repeated until `--seconds` have passed (at least
  * once, at most the workload's bound). Writes `result.json` under
  * `--work`; the Python driver checks the outputs and prints the result
  * line.
  *
  * Usage: pipebench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --cores <n>
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private def json(m: collection.Map[String, Any]): String =
    m.map { case (k, v) =>
      val js = v match {
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case s: String => "\"" + s + "\""
        case x: collection.Map[_, _] => json(x.map { case (k, v) => k.toString -> v })
        case xs: Seq[_] => xs.mkString("[", ",", "]")
        case other => other.toString
      }
      s""""$k":$js"""
    }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val runSeconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val workload = Workloads(name)

    val spark = graft.GraftSession.getOrCreate(
      SparkSession.builder().master(s"local[$cores]").appName(s"pipebench-$name")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString),
      shufflePartitions = cores)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    try {
      // set-up repeated three times into fresh directories; the last copy
      // is the one the operations read
      val ins = (0 until 3).map(i => work.resolve(s"in$i"))
      val genS = ins.map(in => seconds(workload.generate(spark, seed, in))._2)
      ins.init.foreach(deleteTree)
      val in = ins.last
      val out = work.resolve("out")

      val tracer = if (!traced) None else Some(new Tracer(spark, workload match {
        case x: X12Workload => x.classify(out.toString, in.resolve("landing").toString)
        case _ => (_: String) => None
      }))
      val ctx = Ctx(spark, in, out, tracer)

      var attempted = 0
      var failed = 0
      def op(body: => Unit): Double = {
        attempted += 1
        val (ok, s) = seconds(try { body; true } catch {
          case NonFatal(e) => e.printStackTrace(); false
        })
        if (!ok) failed += 1
        s
      }
      val t0 = System.nanoTime()
      val opS = collection.mutable.ArrayBuffer[Double]()
      var opGcS = 0.0
      do {
        val gc0 = HeapWatch.gcSeconds
        opS += op(workload.op(ctx, opS.length))
        opGcS += HeapWatch.gcSeconds - gc0
        HeapWatch.sample()
        workload.release()
      } while (opS.length < workload.maxOps && (System.nanoTime() - t0) / 1e9 < runSeconds)
      Files.writeString(out.resolve("params.json"), json(workload.params) + "\n")

      val layers = tracer.map(t =>
        t.report(opS.sum, cores) ++ workload.traceExtras(ctx) +
          ("spark.gc_s" -> opGcS)).getOrElse(Map.empty)
      val result = collection.mutable.LinkedHashMap[String, Any](
        "workload" -> name, "seed" -> seed, "cores" -> cores,
        "session_s" -> sessionS, "generate_s" -> genS,
        "setup_s" -> (sessionS + median(genS)),
        "op_s" -> opS.toSeq, "run_s" -> median(opS.toSeq),
        "store_mb" -> Workloads.dirBytes(out) / 1048576.0,
        "heap_peak_mb" -> HeapWatch.peakMb,
        "attempted" -> attempted, "failed" -> failed,
        "stages_s" -> workload.stages, "layers" -> layers)
      Files.writeString(work.resolve("result.json"), json(result) + "\n")
    } finally spark.stop()
  }
}
