package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL WARC (Web ARChive, ISO 28500 — the Common Crawl format) record
  * walk: version line, CRLF header block (Content-Length mandatory;
  * WARC-Type / WARC-Target-URI / Content-Type surfaced), exact
  * Content-Length payload, CRLFCRLF record separator — and the
  * `.warc.gz` convention of one gzip MEMBER per record (detected by
  * the 1f 8b magic; the member stream inflates through the JDK's
  * multi-member GZIPInputStream, then walks identically).
  *
  * `warc_records(blob)` returns
  *
  *   array<struct<rec_type, target_uri, content_type,
  *                content_length, payload>>
  *
  * one row per record, payload carried as binary (the record is the
  * unit downstream text-extraction works on). NULL for: no WARC/
  * version line where a record must start, missing/invalid
  * Content-Length, torn payloads or separators, gzip streams that
  * fail to inflate, > 100k records, or > 256 MB inflated (bomb
  * guard).
  *
  * Scale shape: one WARC file = one task (binaryFile); the walk is
  * O(bytes); records explode into rows and only then shuffle — the
  * standard Common Crawl ingestion shape where the shard list, not
  * the record stream, is the parallelism unit.
  */
case class WarcRecords(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(WarcRecords.recordSchema)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"warc_records expects a binary arg, got ${t.simpleString}")
    }

  override def nullSafeEval(blob: Any): Any =
    WarcRecords.records(blob.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.WarcRecords.records($b);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object WarcRecords {

  val recordSchema: StructType = StructType(Seq(
    StructField("rec_type", StringType),
    StructField("target_uri", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  private final val MaxRecords = 100000
  private final val MaxInflated = 256L * 1024 * 1024

  def records(blob: Array[Byte]): GenericArrayData = {
    if (blob == null || blob.length < 4) return null
    val b =
      if ((blob(0) & 0xff) == 0x1f && (blob(1) & 0xff) == 0x8b) {
        // multi-member gzip (the .warc.gz convention)
        try {
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(blob))
          val out = new java.io.ByteArrayOutputStream(blob.length * 4)
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          var total = 0L
          while (n > 0) {
            total += n
            if (total > MaxInflated) return null
            out.write(buf, 0, n)
            n = in.read(buf)
          }
          out.toByteArray
        } catch {
          case _: java.io.IOException => return null
        }
      } else blob
    walk(b)
  }

  private def walk(b: Array[Byte]): GenericArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var at = 0
    while (at < b.length) {
      // version line: WARC/1.x CRLF
      val lineEnd = crlf(b, at)
      if (lineEnd < 0) return null
      val ver = ascii(b, at, lineEnd)
      if (!ver.startsWith("WARC/")) return null
      at = lineEnd + 2
      // header block until empty line
      var recType: String = null
      var uri: String = null
      var cType: String = null
      var cLen = -1L
      var headerDone = false
      while (!headerDone) {
        val e = crlf(b, at)
        if (e < 0) return null
        if (e == at) { headerDone = true; at += 2 }
        else {
          val line = ascii(b, at, e)
          val ci = line.indexOf(':')
          if (ci <= 0) return null
          val k = line.substring(0, ci).trim.toLowerCase
          val v = line.substring(ci + 1).trim
          k match {
            case "warc-type" => recType = v
            case "warc-target-uri" => uri = v
            case "content-type" => cType = v
            case "content-length" =>
              try cLen = v.toLong
              catch { case _: NumberFormatException => return null }
            case _ => ()
          }
          at = e + 2
        }
      }
      if (cLen < 0L || at.toLong + cLen + 4 > b.length) return null
      val payload = java.util.Arrays.copyOfRange(b, at, at + cLen.toInt)
      at += cLen.toInt
      // record separator: CRLFCRLF
      if (b(at) != '\r' || b(at + 1) != '\n' ||
        b(at + 2) != '\r' || b(at + 3) != '\n') return null
      at += 4
      out += new GenericInternalRow(Array[Any](
        if (recType == null) null else UTF8String.fromString(recType),
        if (uri == null) null else UTF8String.fromString(uri),
        if (cType == null) null else UTF8String.fromString(cType),
        cLen, payload))
      if (out.length > MaxRecords) return null
    }
    new GenericArrayData(out.toArray)
  }

  private def crlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 1 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  private def ascii(b: Array[Byte], from: Int, to: Int): String =
    new String(b, from, to - from, "ISO-8859-1")
}

/** Deterministic WARC fixture — `warc_fixture(id, n_pages)`: a REAL
  * ISO 28500 stream. Page i contributes a `request` record and a
  * `response` record (Content-Type text/html, deterministic HTML
  * `<html><head><title>doc {id}-{i}</title></head><body>{body}</body>
  * </html>` where body = "crawl text {id} {i} " × (i%4+1)), plus a
  * `metadata` record on i%3==0. Gzipped ONE MEMBER PER RECORD (the
  * .warc.gz convention, via the JDK's GZIPOutputStream) when
  * id%2==1 — so both transport forms walk at the gate. */
case class WarcFixture(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"warc_fixture expects (bigint, int) args, got $t")
    }

  override def nullSafeEval(id: Any, n: Any): Any =
    WarcFixture.build(id.asInstanceOf[Long], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (id, n) => {
      s"""
         |${ev.value} = graft.functions.WarcFixture.build($id, $n);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): WarcFixture = copy(l, r)
}

object WarcFixture {

  def html(id: Long, i: Int): String = {
    val body = "crawl text " + id + " " + i + " "
    "<html><head><title>doc " + id + "-" + i + "</title></head><body>" +
      (body * (i % 4 + 1)) + "</body></html>"
  }

  def uri(id: Long, i: Int): String = s"https://example.com/$id/$i"

  private def record(typ: String, targetUri: String, cType: String,
      payload: Array[Byte], seq: Int): Array[Byte] = {
    val sb = new StringBuilder(256)
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(typ).append("\r\n")
    sb.append("WARC-Record-ID: <urn:graft:").append(seq).append(">\r\n")
    sb.append("WARC-Date: 2024-01-01T00:00:00Z\r\n")
    if (targetUri != null)
      sb.append("WARC-Target-URI: ").append(targetUri).append("\r\n")
    if (cType != null)
      sb.append("Content-Type: ").append(cType).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes("US-ASCII")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** A hostile .warc.gz member: tiny on disk, inflating past
    * [[WarcRecords]]' 256 MB guard — the decompression-bomb shape the
    * ingest path must DROP (null records, zero rows), never buffer. */
  def gzipBomb(inflatedBytes: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 20)
    val g = new java.util.zip.GZIPOutputStream(out)
    val zeros = new Array[Byte](1 << 16)
    var left = inflatedBytes
    while (left > 0) {
      val n = math.min(left, zeros.length.toLong).toInt
      g.write(zeros, 0, n)
      left -= n
    }
    g.close() // end the native deflater, not just the stream
    out.toByteArray
  }

  def build(id: Long, nPages: Int): Array[Byte] = {
    if (nPages <= 0 || nPages > 10000) return null
    val gz = java.lang.Math.floorMod(id, 2L) == 1L
    val out = new java.io.ByteArrayOutputStream(nPages * 1024)
    def emit(rec: Array[Byte]): Unit =
      if (!gz) out.write(rec, 0, rec.length)
      else {
        // one gzip member per record (the .warc.gz convention)
        val g = new java.util.zip.GZIPOutputStream(out)
        // close, not just finish: finish alone leaves the native
        // Deflater un-ended (one leaked native buffer PER RECORD at
        // soak scale, reclaimed only at GC/cleaner time); close ends
        // it and is harmless to the ByteArrayOutputStream underneath
        g.write(rec); g.close()
      }
    var seq = 0
    var i = 0
    while (i < nPages) {
      emit(record("request", uri(id, i), "application/http;msgtype=request",
        ("GET /" + id + "/" + i + " HTTP/1.1").getBytes("US-ASCII"), seq))
      seq += 1
      emit(record("response", uri(id, i), "text/html",
        html(id, i).getBytes("UTF-8"), seq))
      seq += 1
      if (i % 3 == 0) {
        emit(record("metadata", uri(id, i), "application/warc-fields",
          ("fetchTimeMs: " + (100 + i)).getBytes("US-ASCII"), seq))
        seq += 1
      }
      i += 1
    }
    out.toByteArray
  }
}
