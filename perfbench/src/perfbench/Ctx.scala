package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Everything one benchmark run shares: the session, the listener, the
  * tracer, the run's arguments and what it has measured so far.
  */
final class Ctx(var spark: SparkSession, var counters: SparkCounters,
                var tracer: Tracer, val work: String, val seed: Long,
                val seconds: Double, val cores: Int, val traced: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Listener counters and wall seconds of the measured reps. */
  var regionCounters = Counters()
  var regionWallS = 0.0
  /** The day-0 store and corpus [[Fixture]] built (read-only). */
  var fixture: String = ""
  /** The corpus [[Data]] reads (read-only). */
  var data: String = ""

  /** Run one program operation, counting it as attempted and, if it
    * throws, as failed. */
  def op[T](what: String)(body: => T): T = {
    attempted += 1
    try body
    catch { case e: Throwable =>
      failed += 1
      failures += s"$what: $e"
      throw e
    }
  }

  /** An output check: counted like an operation, fails without throwing. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val failure = try { if (ok) None else Some("mismatch") }
      catch { case e: Exception => Some(e.toString) }
    failure.foreach { f => failed += 1; failures += s"$what: $f" }
  }

  def addRegion(c: Counters, wallS: Double): Unit = {
    regionCounters += c
    regionWallS += wallS
  }

  private val born = System.nanoTime()
  def elapsedS: Double = (System.nanoTime() - born) / 1e9

  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit = System.err.println(f"[perfbench +$elapsedS%.1fs] $msg")

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Replace the session with a fresh one on `n` cores (same settings). */
  def restart(n: Int): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = Ctx.session(n, work)
    counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    tracer = new Tracer(spark.sparkContext, enabled = false, run = s"local[$n]")
  }
}

object Ctx {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Clock {
  /** Wall seconds of `body`, with its value. */
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def secs(body: => Unit): Double = time(body)._2
}

object Fs {
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  /** Number of data files (`part-*`) under `path`. */
  def dataFiles(path: String): Int = {
    val f = new java.io.File(path)
    if (f.isFile) (if (f.getName.startsWith("part-")) 1 else 0)
    else Option(f.listFiles()).map(_.map(c => dataFiles(c.getPath)).sum).getOrElse(0)
  }

  /** Recursive copy of a file tree (`to` must not exist). */
  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
  }

  def rm(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => rm(c.getPath)))
    f.delete(): Unit
  }

  def loadavg(): Seq[Double] =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq
      finally s.close()
    } catch { case _: Exception => Nil }
}

object Digest {
  /** Order-insensitive digest of a DataFrame's rows: doubles rounded
    * to 6 places, timestamps to the second, columns by name. */
  def of(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => org.apache.spark.sql.functions.col(s"`$c`")): _*)
      .collect().map(_.toSeq.map(cell).mkString("|")).sorted
    sha(rows.mkString("\n"))
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => f"$d%.6f"
    case f: Float => f"${f.toDouble}%.6f"
    case t: java.sql.Timestamp =>
      t.toInstant.toString.take(19).replace('T', ' ')
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.toString
  }

  def sha(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
