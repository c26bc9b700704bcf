package graft.sources

import java.io.{ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.slf4j.LoggerFactory

/** WARC files as a Spark file source: one row per record, one string
  * column `value` = everything after the leading `WARC/1.` (version
  * remnant, CRLF, header block, blank line, payload). Modelled on
  * Spark's `TextFileFormat`, so the scan packs small files into shared
  * partitions (`maxPartitionBytes` / `openCostInBytes`) exactly as the
  * text source does, and the codec (gzip, bz2, ...) comes from the file
  * extension.
  *
  * Framing is the spec's own (ISO 28500): each record declares
  * `Content-Length`, and [[WarcRecords]] consumes the header block to
  * its blank line and then exactly that many payload bytes, so no
  * payload content (a crawled page quoting `WARC/1.0`) can cut a record.
  * The price is `isSplitable = false`: one file is read whole by one
  * task. Common Crawl ships gzip, which cannot be split anyway.
  *
  * Read with `spark.read.format(classOf[WarcFileFormat].getName)`;
  * write is not supported. */
final class WarcFileFormat extends FileFormat with Serializable {

  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = Some(WarcFileFormat.Schema)

  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("the WARC source is read-only")

  override def isSplitable(spark: SparkSession, options: Map[String, String],
      path: org.apache.hadoop.fs.Path): Boolean = false

  override def buildReader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val cap = WarcFileFormat.payloadCap(hadoopConf)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val row: Array[Byte] => InternalRow =
      if (requiredSchema.isEmpty) _ => InternalRow.empty
      else bytes => InternalRow(UTF8String.fromBytes(bytes))
    file => {
      val in = CodecStreams.createInputStreamWithCloseResource(
        conf.value.value, file.toPath)
      new WarcRecords(in, cap, file.toPath.toString).iterator.map(row)
    }
  }

  override def toString: String = "WARC"
  // Stateless: two loads of one path are the same relation, so a cached
  // frame matches a re-built plan (Spark's own formats compare this way).
  override def hashCode(): Int = getClass.hashCode()
  override def equals(other: Any): Boolean = other.isInstanceOf[WarcFileFormat]
}

object WarcFileFormat {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Hadoop conf key overriding the payload value cap (bytes). */
  val MaxPayloadKey = "graft.warc.maxPayloadBytes"
  val DefaultMaxPayloadBytes: Long = 256L * 1024 * 1024

  /** The configured cap, clamped below the JVM array ceiling (it sizes
    * a single byte-array read, so a >2 GiB value must not overflow
    * there); a nonpositive value, "-1 = unlimited" conventions included,
    * falls back to the default rather than crashing every read with a
    * negative size or silently truncating every payload to empty. */
  def payloadCap(conf: Configuration): Long = {
    val confCap = conf.getLong(MaxPayloadKey, DefaultMaxPayloadBytes)
    math.min(Int.MaxValue - 16L,
      if (confCap <= 0) DefaultMaxPayloadBytes else confCap)
  }

  private[sources] val log = LoggerFactory.getLogger(classOf[WarcFileFormat])
}

/** Content-Length-framed records of one decoded WARC stream, each as the
  * bytes of a [[WarcFileFormat]] `value`.
  *
  * Lines before the first `WARC/` version line (padding, junk) are
  * skipped. Header lines are re-emitted CRLF-terminated whatever their
  * form in the file. Payloads are kept byte for byte.
  *
  * Payload cap: a spec-valid record may declare more than a JVM array
  * holds (Content-Length is a 64-bit count). Past `maxPayloadBytes` the
  * VALUE truncates, a WARN names the file and the declared length, and
  * the STREAM stays aligned by skipping the declared remainder, so no
  * payload bytes are re-parsed as phantom records. The 256 MB default
  * is ~100× the largest real-world WET conversion payload.
  *
  * Recovery: a record without a parseable `Content-Length` (a spec
  * violation) takes its payload up to the next `WARC/` version line,
  * each line with its original terminator, and a truncated tail record
  * yields whatever bytes remain. Malformed input never throws mid-scan. */
private[sources] final class WarcRecords(in: InputStream,
    maxPayloadBytes: Long, file: String) {
  import WarcRecords._

  /** Read-ahead window of the stream: bytes `pos until lim` are unread. */
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var lim = 0
  private val out = new ByteArrayOutputStream(1 << 12)
  /** The current line, without its terminator. */
  private val line = new Line
  /** The terminator that ended [[line]]: CRLF, LF, or none at EOF. */
  private var term: Array[Byte] = Crlf
  /** [[line]] holds a version line that the recovery scan read past; the
    * next record starts from it instead of the stream. */
  private var pending = false

  def iterator: Iterator[Array[Byte]] =
    Iterator.continually(nextRecord()).takeWhile(_ != null)

  /** True when unread bytes are buffered, refilling once if none are;
    * false at EOF. */
  private def available(): Boolean = pos < lim || {
    pos = 0
    lim = math.max(0, in.read(buf))
    lim > 0
  }

  /** Reads one line into [[line]], LF-terminated with a trailing CR
    * stripped; false at EOF with nothing read. */
  private def readLine(): Boolean = {
    line.reset()
    if (!available()) return false
    var eol = false
    while (!eol && available()) {
      var i = pos
      while (i < lim && buf(i) != '\n') i += 1
      line.write(buf, pos, i - pos)
      eol = i < lim
      pos = if (eol) i + 1 else i
    }
    val cr = line.dropCr()
    term = if (!eol) NoTerm else if (cr) Crlf else Lf
    true
  }

  /** Passes up to `n` bytes of the stream to `sink(buf, from, len)`,
    * fewer at EOF. */
  private def consume(n: Long)(sink: (Array[Byte], Int, Int) => Unit): Unit = {
    var left = n
    while (left > 0 && available()) {
      val k = math.min(left, (lim - pos).toLong).toInt
      sink(buf, pos, k)
      pos += k
      left -= k
    }
  }

  /** The next record's value bytes; null at the end of the stream. */
  private def nextRecord(): Array[Byte] = {
    while (pending || readLine()) {
      pending = false
      if (line.startsWith(Warc)) return record()
    }
    null
  }

  private def record(): Array[Byte] = {
    out.reset()
    val skip = if (line.startsWith(Warc1)) Warc1.length else 0
    line.copyTo(out, skip)
    out.write(Crlf)
    var contentLength = -1L
    var more = readLine()
    while (more && line.size > 0) {
      line.copyTo(out, 0)
      out.write(Crlf)
      line.text match {
        case ClRe(d) => contentLength = d.toLong
        case _ =>
      }
      more = readLine()
    }
    if (more) { // blank line reached: payload follows
      out.write(Crlf)
      if (contentLength >= 0) payload(contentLength)
      else {
        more = readLine()
        while (more && !line.startsWith(Warc)) {
          line.copyTo(out, 0)
          out.write(term)
          more = readLine()
        }
        pending = more
      }
    }
    out.toByteArray
  }

  private def payload(len: Long): Unit = {
    // EOF-tolerant: a truncated tail record yields the bytes present.
    val want = math.min(len, maxPayloadBytes)
    consume(want)(out.write)
    if (len > want) {
      WarcFileFormat.log.warn(s"$file: WARC payload declares $len bytes, " +
        s"over the $maxPayloadBytes-byte cap; value truncated, stream realigned")
      consume(len - want)((_, _, _) => ())
    }
  }
}

private object WarcRecords {
  private val Warc = "WARC/".getBytes(UTF_8)
  private val Warc1 = "WARC/1.".getBytes(UTF_8)
  private val Crlf = "\r\n".getBytes(UTF_8)
  private val Lf = "\n".getBytes(UTF_8)
  private val NoTerm = Array.emptyByteArray
  private val ClRe = "(?i)^content-length:\\s*(\\d{1,18})\\s*$".r

  /** A line buffer with the few reads the framing needs. */
  private final class Line extends ByteArrayOutputStream(256) {
    def startsWith(p: Array[Byte]): Boolean =
      count >= p.length && java.util.Arrays.equals(buf, 0, p.length, p, 0, p.length)
    def dropCr(): Boolean = {
      val cr = count > 0 && buf(count - 1) == '\r'
      if (cr) count -= 1
      cr
    }
    def copyTo(out: ByteArrayOutputStream, from: Int): Unit =
      out.write(buf, from, count - from)
    def text: String = new String(buf, 0, count, UTF_8)
  }
}
