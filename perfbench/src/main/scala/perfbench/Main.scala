package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--cores`, `--work`, `--source` from run.py. Prints one JSON object
  * as the last line of standard output. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, work: String, source: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("work", "perfbench/.work"), m.getOrElse("source", "unknown"))
  }

  /** How often each workload repeats its input preparation; setup_s takes
    * the median. */
  val SetupReps = 3

  val workloads: Map[String, Ctx => Outcome] = Map(
    "ztbus-lake-backfill" -> (c => Lake.run(c)),
    "ztbus-stream-replay" -> (c => Replay.run(c)))

  /** The canonical session plus the benchmark's scratch locations. */
  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${workloads.keys.mkString(", ")}"))
    val work = new File(args.work).getAbsolutePath
    val runDir = s"$work/run/${args.workload}"
    Io.rmrf(new File(runDir))
    new File(s"$work/tmp").mkdirs()
    val load0 = Provenance.loadavg()
    val t0 = System.nanoTime()
    val spark = session(args.cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, args, runDir, sessionS)
    val out = try run(ctx) finally {
      ctx.stopAll()
      spark.stop()
    }
    val prov = Provenance.block(args, out.conf, load0, Provenance.loadavg())
    val artifact = s"$work/out/${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val metrics = out.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Io.write(s"$artifact.json", Json(Map(
      "provenance" -> prov, "correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "checks" -> out.checks, "details" -> out.details,
      "metrics" -> metrics)))
    if (out.spans.nonEmpty)
      Io.write(s"$artifact.spans.jsonl", out.spans.map(s => Json(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))).mkString("\n") + "\n")
    Digests.flush(work)
    out.checks.filterNot(_._2).foreach { case (k, _) => System.err.println(s"[perfbench] CHECK FAILED: $k") }
    println(Json(Map("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> metrics)))
  }
}

/** What a workload hands back. `metrics` keeps insertion order. */
final case class Outcome(
    metrics: mutable.LinkedHashMap[String, (Double, String)],
    attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    details: Map[String, Any], spans: Seq[Span], conf: Map[String, String]) {
  def correct: Boolean = failed == 0 && checks.forall(_._2)
}

/** Per-run state shared by the workloads. */
final case class Ctx(spark: SparkSession, args: Main.Args, dir: String, sessionS: Double) {
  val cores: Int = args.cores
  private val stoppers = mutable.Buffer.empty[() => Unit]
  def onStop(f: => Unit): Unit = stoppers += (() => f)
  def stopAll(): Unit = stoppers.reverse.foreach(f => scala.util.Try(f()))
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $msg")
}

object Io {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
  def write(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }
  def append(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), s.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
  /** Data files (not checksums or markers) under `dir`, and their bytes. */
  def dataFiles(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(dir)).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}

object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case p: Product if p.productArity == 2 =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case other => str(other.toString)
  }
}

/** Rounded output digests recorded per (workload, seed, output) in
  * `perfbench/digests.tsv`. A digest with no record is kept in
  * `.work/digests-new.tsv` for recording; a recorded one must match. */
object Digests {
  private val recorded: Map[(String, Long, String), String] = {
    val f = new File("perfbench/digests.tsv")
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .collect { case Array(w, s, n, d) => (w, s.toLong, n) -> d }.toMap
  }
  private val fresh = mutable.LinkedHashMap.empty[(String, Long, String), String]

  /** `Some(true/false)` against a record, `None` when there is none yet. */
  def check(workload: String, seed: Long, name: String, digest: String): Option[Boolean] =
    recorded.get((workload, seed, name)) match {
      case Some(d) => Some(d == digest)
      case None => fresh.synchronized(fresh((workload, seed, name)) = digest); None
    }

  def flush(work: String): Unit = fresh.synchronized {
    if (fresh.nonEmpty)
      Io.append(s"$work/digests-new.tsv", fresh.map { case ((w, s, n), d) =>
        s"$w\t$s\t$n\t$d\n" }.mkString)
  }
}
