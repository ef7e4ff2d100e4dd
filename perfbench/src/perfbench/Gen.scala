package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser

import java.io._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.{Locale, SplittableRandom}
import scala.collection.mutable

/** Seeded input generators. Each one runs on the calling thread, except
 * the stream feeder, which is the one extra thread. */
object Gen {

  /** Independent random stream `k` of a seed. */
  def rng(seed: Long, k: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L + 1)

  def pick[T](r: SplittableRandom, weighted: Seq[(T, Double)]): T = {
    var x = r.nextDouble() * weighted.map(_._2).sum
    weighted.find { case (_, w) => x -= w; x < 0 }.getOrElse(weighted.last)._1
  }

  def gaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def writer(f: File, codec: String): Writer = {
    f.getParentFile.mkdirs()
    val raw = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    val os = codec match {
      case "plain" => raw
      case "gzip"  => new java.util.zip.GZIPOutputStream(raw, 1 << 16)
      case "zstd"  => new com.github.luben.zstd.ZstdOutputStream(raw)
    }
    new BufferedWriter(new OutputStreamWriter(os, UTF_8), 1 << 16)
  }

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(UTF_8))
  }
}

/** What a generated set of log lines must parse to. */
final class LogTruth {
  var files = 0
  var lines = 0L
  var errors = 0L
  var bytesScanned = 0L
  var byteSum = 0L
  val status = mutable.TreeMap[Int, Long]()
  val errorsByFile = mutable.TreeMap[String, Long]()
  def okLines: Long = lines - errors

  def add(o: LogTruth): Unit = {
    files += o.files; lines += o.lines; errors += o.errors
    bytesScanned += o.bytesScanned; byteSum += o.byteSum
    o.status.foreach { case (k, v) => status(k) = status.getOrElse(k, 0L) + v }
    errorsByFile ++= o.errorsByFile
  }

  def json: String = Json.obj(Seq(
    "files" -> files.toString, "lines" -> lines.toString, "planted_errors" -> errors.toString,
    "ok_lines" -> okLines.toString, "bytes_scanned" -> bytesScanned.toString,
    "byte_sum_dash_as_0" -> byteSum.toString,
    "status" -> Json.obj(status.toSeq.map { case (k, v) => k.toString -> v.toString })))
}

/** Apache access-log lines: combined format with planted malformed lines. */
object LogGen {
  private val TsFmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.ENGLISH)
    .withZone(ZoneOffset.UTC)
  val Statuses = Seq(200 -> 72.0, 304 -> 9.0, 404 -> 8.0, 301 -> 4.0, 403 -> 3.0, 500 -> 2.0, 206 -> 2.0)
  private val Methods = Seq("GET" -> 85.0, "POST" -> 11.0, "HEAD" -> 4.0)
  private val Agents = Vector(
    "Mozilla/5.0 (X11; Linux x86_64; rv:128.0) Gecko/20100101 Firefox/128.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/126.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.5 Safari/605.1.15",
    "curl/8.8.0", "Googlebot/2.1 (+http://www.google.com/bot.html)", "python-requests/2.32.3")
  private val Referers = Vector("https://www.example.com/", "https://www.example.com/blog/",
    "https://search.example.org/?q=graft", "https://news.example.net/item?id=4242")

  final class Hosts(r: SplittableRandom, n: Int) {
    private val pool = Vector.fill(n)(
      s"${10 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}")
    /** Skewed: a few hosts send most requests. */
    def next(r: SplittableRandom): String = pool(math.min(n - 1, (math.pow(r.nextDouble(), 3) * n).toInt))
  }

  def path(r: SplittableRandom): String = r.nextInt(8) match {
    case 0 => "/"
    case 1 => s"/static/css/site-${r.nextInt(20)}.css"
    case 2 => s"/static/js/app-${r.nextInt(50)}.js"
    case 3 => s"/images/photo-${r.nextInt(5000)}.jpg"
    case 4 => s"/api/v1/items/${r.nextInt(100000)}"
    case 5 => s"/search?q=term${r.nextInt(3000)}&page=${1 + r.nextInt(5)}"
    case 6 => s"/blog/20${10 + r.nextInt(15)}/post-${r.nextInt(900)}.html"
    case _ => s"/account/${r.nextInt(40000)}/settings"
  }

  /** (status, bytes field, bytes value with `-` as 0) */
  def statusBytes(r: SplittableRandom): (Int, String, Long) = {
    val st = Gen.pick(r, Statuses)
    val b: Long = st match {
      case 304 => -1L
      case 500 if r.nextBoolean() => -1L
      case 200 | 206 => math.min(5000000L, math.exp(8.0 + 1.3 * Gen.gaussian(r)).toLong + 1)
      case _ => 150L + r.nextInt(600)
    }
    (st, if (b < 0) "-" else b.toString, math.max(b, 0L))
  }

  /** One combined-format line; returns (line, status, bytes). */
  def combined(r: SplittableRandom, hosts: Hosts, epochSec: Long): (String, Int, Long) = {
    val (st, bf, bv) = statusBytes(r)
    val user = if (r.nextInt(20) == 0) s"user${r.nextInt(500)}" else "-"
    val ref = if (r.nextInt(10) < 4) "-" else Referers(r.nextInt(Referers.size))
    val line = s"""${hosts.next(r)} - $user [${TsFmt.format(Instant.ofEpochSecond(epochSec))}] """ +
      s""""${Gen.pick(r, Methods)} ${path(r)} HTTP/1.1" $st $bf "$ref" "${Agents(r.nextInt(Agents.size))}""""
    (line, st, bv)
  }

  /** A line that matches no access-log format: a truncated record or junk. */
  def malformed(r: SplittableRandom, good: String): String =
    if (r.nextBoolean()) good.take((good.length * (0.2 + 0.4 * r.nextDouble())).toInt)
    else f"!! corrupted record ${r.nextLong()}%016x"

  /**
   * Write `filesPerCodec` files for each codec (plain, gzip, zstd) of
   * `lines` lines each under `dir`; a share `errorShare` of lines is
   * malformed, never among the first 10 lines of a file (format
   * detection samples those). Returns the truth per codec.
   */
  def writeSet(dir: File, seed: Long, stream: Long, filesPerCodec: Int, lines: Int,
      errorShare: Double): Map[String, LogTruth] = {
    val r0 = Gen.rng(seed, stream)
    val hosts = new Hosts(r0, 2000)
    var ts = 1709251200L + r0.nextInt(86400 * 300) // a day in 2024
    Seq("plain" -> ".log", "gzip" -> ".log.gz", "zstd" -> ".log.zst").zipWithIndex.map {
      case ((codec, ext), ci) =>
        val t = new LogTruth
        (0 until filesPerCodec).foreach { fi =>
          val r = Gen.rng(seed, stream * 1000 + ci * 100 + fi)
          val name = s"access-$codec-$fi$ext"
          val w = Gen.writer(new File(dir, name), codec)
          var errs = 0L
          try (0 until lines).foreach { li =>
            ts += r.nextInt(3)
            val (good, st, b) = combined(r, hosts, ts)
            val line = if (li >= 10 && r.nextDouble() < errorShare) { errs += 1; malformed(r, good) }
            else { t.status(st) = t.status.getOrElse(st, 0L) + 1; t.byteSum += b; good }
            t.bytesScanned += line.getBytes(UTF_8).length + 1
            w.write(line); w.write('\n')
          } finally w.close()
          t.files += 1; t.lines += lines; t.errors += errs
          t.errorsByFile(name) = errs
        }
        codec -> t
    }.toMap
  }

  /** An httpd.conf that names the combined format `benchcombined`. */
  def writeConf(f: File): Unit = Gen.writeText(f,
    """ServerRoot "/srv/httpd"
      |Listen 8080
      |LogFormat "%h %l %u %t \"%r\" %>s %b" common
      |LogFormat "%h %l %u %t \"%r\" %>s %b \"%{Referer}i\" \"%{User-agent}i\"" benchcombined
      |CustomLog "logs/access_log" benchcombined
      |ErrorLog "logs/error_log"
      |""".stripMargin)
}

/** A document corpus with planted exact and near duplicates and PII. */
object CorpusGen {
  final case class Truth(docs: Int, distinctTexts: Int, exactDups: Int, nearDups: Int, piiDocs: Int) {
    def json: String = Json.obj(Seq("docs" -> docs.toString, "distinct_texts" -> distinctTexts.toString,
      "planted_exact_dups" -> exactDups.toString, "planted_near_dups" -> nearDups.toString,
      "pii_docs" -> piiDocs.toString))
  }

  /** Vocabulary of `n` distinct pseudo-words and a Zipf(s) sampler over it. */
  final class Vocab(r: SplittableRandom, n: Int, s: Double) {
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < n) {
        val len = 2 + r.nextInt(8)
        seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail.toArray
      w.map(_ / w.last)
    }
    def next(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  def writeSet(dir: File, seed: Long, stream: Long, docs: Int, files: Int, vocabSize: Int,
      zipfS: Double, lenMu: Double, lenSigma: Double, exactShare: Double, nearShare: Double,
      editShare: Double, piiShare: Double): Truth = {
    val r = Gen.rng(seed, stream)
    val vocab = new Vocab(r, vocabSize, zipfS)
    val nExact = (docs * exactShare).round.toInt
    val nNear = (docs * nearShare).round.toInt
    val nBase = docs - nExact - nNear
    var pii = 0
    val base = Array.fill(nBase) {
      val n = math.max(8, math.min(800, math.exp(lenMu + lenSigma * Gen.gaussian(r)).round.toInt))
      val ws = Array.fill(n)(vocab.next(r))
      var i = 11 + r.nextInt(6)
      while (i < n) { ws(i) = ws(i) + "."; i += 8 + r.nextInt(9) }
      if (r.nextDouble() < piiShare) {
        pii += 1
        val at = r.nextInt(n)
        ws(at) = if (r.nextBoolean()) s"mail ${vocab.words(r.nextInt(500))}${r.nextInt(100)}@example.org"
        else s"host ${10 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      }
      ws
    }
    val exact = Array.fill(nExact)(base(r.nextInt(nBase)))
    val near = Array.fill(nNear) {
      val ws = base(r.nextInt(nBase)).clone()
      var edited = false
      ws.indices.foreach { i => if (r.nextDouble() < editShare) { ws(i) = vocab.next(r); edited = true } }
      if (!edited) ws(r.nextInt(ws.length)) = vocab.words(vocabSize - 1 - r.nextInt(100))
      ws
    }
    val all = (base ++ exact ++ near).map(_.mkString(" "))
    // Fisher-Yates so duplicates are spread over files and ids
    (all.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; required binary text (UTF8); }")
    val factory = new SimpleGroupFactory(schema)
    val conf = new Configuration()
    dir.mkdirs()
    all.indices.grouped((all.length + files - 1) / files).zipWithIndex.foreach { case (ids, fi) =>
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(new File(dir, f"part-$fi%05d.parquet").toURI))
        .withType(schema).withConf(conf).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try ids.foreach(i => w.write(factory.newGroup().append("doc_id", i.toLong).append("text", all(i))))
      finally w.close()
    }
    Truth(docs, all.distinct.length, nExact, nNear, pii)
  }
}

/** Access-log lines for the streaming workload: epoch-ms timestamps so
 * each event carries its creation time. */
object StreamGen {
  val Format = "%h %l %u %{msec}t \"%r\" %>s %b"

  def line(r: SplittableRandom, hosts: LogGen.Hosts, epochMs: Long): String = {
    val (st, bf, _) = LogGen.statusBytes(r)
    s"""${hosts.next(r)} - - $epochMs "GET ${LogGen.path(r)} HTTP/1.1" $st $bf"""
  }

  /** Write one file of `n` events stamped `epochMs`: staged beside `dir`,
   * then moved in atomically so a listing never sees a partial file. */
  def dropFile(dir: File, stage: File, name: String, r: SplittableRandom, hosts: LogGen.Hosts,
      n: Int, epochMs: Long): Unit = {
    val tmp = new File(stage, name)
    val w = Gen.writer(tmp, "plain")
    try (0 until n).foreach { _ => w.write(line(r, hosts, epochMs)); w.write('\n') }
    finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /**
   * The open-loop feeder: file i is due at `t0Ms + i * periodMs` and
   * holds `n` events stamped with that due time. It sleeps until each
   * due time and never waits for the stream, so a stalled stream builds
   * a backlog. Records how late each file was written.
   */
  final class Feeder(dir: File, stage: File, seed: Long, files: Int, n: Int, periodMs: Long,
      t0Ms: Long, clock: () => Double) extends Thread("perfbench-feeder") {
    setDaemon(true)
    val lateMs = new Array[Double](files)
    @volatile var error: Throwable = _
    def dueMs(i: Int): Long = t0Ms + i * periodMs
    override def run(): Unit = try {
      val r = Gen.rng(seed, 7001)
      val hosts = new LogGen.Hosts(r, 300)
      (0 until files).foreach { i =>
        val wait = dueMs(i) - clock()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait - wait.toLong) * 1e6).toInt)
        dropFile(dir, stage, f"part-$i%06d.log", r, hosts, n, dueMs(i))
        lateMs(i) = clock() - dueMs(i)
      }
    } catch { case e: Throwable => error = e }
  }
}
