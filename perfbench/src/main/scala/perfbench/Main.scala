package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark leg: a Spark session of `--cores` task threads that runs one
  * workload on command. run.py drives it over stdin/stdout, one command per
  * line; every reply is one `PB {json}` line on stdout.
  *
  *   job <tag>    the timed job into <work>/out/<tag>, then the resume
  *                invocation on the same directory; the reply names the
  *                directory of each registry-shaped output (shaped untimed)
  *   plain <tag>  the same without the resume
  *   plain1 <tag> plain on the `--quarter` input, for the 1-CPU leg
  *   trace <tag>  job, traced: per-layer figures and a span file
  *   quit         report peak RSS and exit
  *
  * Set-up (session build + input registration + program-side prep) runs
  * `--setups` times before the first command, stopping the session between
  * runs; each time is reported. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workload(opt("workload"))
    val cores = opt("cores").toInt
    val work = opt("work")
    val input = opt("input")

    var spark: SparkSession = null
    var prepared: Prepared = null
    val setups = (1 to opt("setups").toInt).map { _ =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      prepared = workload.prep(spark, input)
      (System.nanoTime() - t0) / 1e9
    }
    // the quarter-size input of the 1-CPU leg, prepared after set-up timing
    val quarter = opt.get("quarter").map(workload.prep(spark, _))
    emit(Map("event" -> "ready", "setup_s" -> setups, "input_rows" -> workload.inputRows(prepared))
      ++ quarter.map(q => "quarter_rows" -> workload.inputRows(q)))

    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      val Array(cmd, tag) = line.split(" ", 2)
      emit(try {
        if (cmd == "plain1") oneCpu(spark)(run(workload, quarter.get, work, tag, traced = false, resume = false))
        else run(workload, prepared, work, tag, traced = cmd == "trace", resume = cmd != "plain")
      }
      catch { case e: Throwable =>
        e.printStackTrace()
        Map("event" -> "error", "tag" -> tag, "error" -> String.valueOf(e).take(500))
      })
      line = in.readLine()
    }
    emit(Map("event" -> "quit", "peak_rss_mb" -> peakRssMb))
    spark.stop()
  }

  /** run.py pins every thread of this process to one CPU around a plain1
    * command; the job then also plans one shuffle partition, as local[1] */
  private def oneCpu[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1")
    try body finally spark.conf.set(key, prev)
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(w: Workload, p: Prepared, work: String, tag: String, traced: Boolean,
                  resume: Boolean): Map[String, Any] = {
    val out = s"$work/out/$tag"
    val trace = if (traced) Some(new Trace(p.spark, tag)) else None
    val probe: Probe = trace.getOrElse(Untraced)
    val st = new Stages(p.spark, p.orders, out, probe)
    val t0 = System.nanoTime()
    probe.region("job")(w.job(p, st, probe))
    val t1 = System.nanoTime()
    val skippedBefore = st.skipped
    if (resume) probe.region("resume")(w.job(p, st, probe))
    val t2 = System.nanoTime()
    trace.foreach(_.close())
    val shaped = w.checks(p, st).map { case (q, df) =>
      df.write.mode("overwrite").parquet(s"$work/check/$tag/$q")
      q -> s"$work/check/$tag/$q"
    }
    val checks = shaped ++ w.checkedStages.map(q => q -> s"$out/$q/data")
    val base = Map("event" -> "done", "tag" -> tag, "job_s" -> (t1 - t0) / 1e9,
      "stage_runs" -> st.runs.toMap, "checks" -> checks) ++ (if (resume) Map(
      "resume_s" -> (t2 - t1) / 1e9, "resume_skips" -> (st.skipped - skippedBefore),
      // the resume must take Lineage's skip path for every stage
      "resume_ok" -> (st.runs.forall(_._2 == 1) && st.skipped - skippedBefore == st.runs.size))
    else Map.empty)
    trace match {
      case Some(t) =>
        val file = s"$work/trace/$tag.json"
        Files.createDirectories(Paths.get(file).getParent)
        Files.writeString(Paths.get(file), Json(Map("run_id" -> tag, "spans" -> t.spanRecords)))
        base ++ Map("layers" -> Layers(w, p, t, st.skipped - skippedBefore, out))
      case None => base
    }
  }

  /** VmHWM of this process, in MiB */
  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def emit(m: Map[String, Any]): Unit = {
    println("PB " + Json(m))
    System.out.flush()
  }
}

/** Minimal JSON writer for the reply lines and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
