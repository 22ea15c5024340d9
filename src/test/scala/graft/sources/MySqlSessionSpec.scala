package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import MySqlWire._

/** Golden-transcript session tests for the replication client stack:
  * a scripted MySQL "master" on a real loopback socket drives
  * [[BinlogClient]]'s complete auth → session-setup → dump loop and
  * [[BinlogRelay]]'s reconnect/resume loop, leaving no layer of the
  * wire stack untested (the socket here IS a real TCP connection —
  * only a production server is absent, by sandbox construction).
  *
  * The server side is composed in-test from the same publicly
  * documented packet layouts the client implements (MySQL internals
  * manual, "Client/Server Protocol"); token verification recomputes
  * the scramble server-side, so an encoding bug in either direction
  * fails the handshake instead of silently passing bytes through.
  * Binlog frames come from [[BinlogWriter]] (the golden-byte
  * composer BinlogSpec validates against the decoder), which makes
  * the relay test's final assertion possible: the relayed segment
  * must equal the master's file BYTE-IDENTICALLY.
  */
object FakeMaster {
  sealed trait Auth
  case object NativeOk extends Auth
  case object Sha2Fast extends Auth
  case object Sha2Full extends Auth
  case object SwitchToSha2 extends Auth
  case object ErrAuth extends Auth

  /** One accepted connection's script: how to auth, what to stream
    * after a dump command, then how the stream ends —
    * "eof" (clean end), "die" (abrupt close — the reconnect
    * trigger), or "hold" (keep the connection open like a live,
    * currently-quiet master; ends when the server closes). */
  final case class Session(auth: Auth, frames: Seq[Array[Byte]] = Nil,
      afterFrames: String = "eof", greetPlugin: String = NativePasswordPlugin,
      semiSync: Boolean = false,
      // respond to the dump command with this ERR instead of frames —
      // the purged-binlog refusal path (error 1236)
      dumpErr: Option[(Int, String, String)] = None) {
    require(Set("eof", "die", "hold")(afterFrames), afterFrames)
  }

  val okPacket: Array[Byte] =
    new ByteWriter().u8(0x00).lenenc(0).lenenc(0).u16(2).u16(0).result
  val eofPacket: Array[Byte] = new ByteWriter().u8(0xfe).u16(0).u16(2).result
  def errPacket(code: Int, state: String, msg: String): Array[Byte] =
    new ByteWriter().u8(0xff).u16(code).u8('#').str(state).str(msg).result
}

final class FakeMaster(password: String, sessions: Seq[FakeMaster.Session])
  extends AutoCloseable {
  import FakeMaster._

  val log = new ConcurrentLinkedQueue[String]()
  private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  @volatile private var failure: Throwable = null
  def firstFailure: Option[Throwable] = Option(failure)

  private val acceptor = new Thread(() => {
    try sessions.foreach { s =>
      val sock = server.accept()
      try handle(sock, s)
      catch { case e: Throwable => if (failure == null) failure = e }
      finally { try sock.close() catch { case _: Throwable => () } }
    } catch { case _: Throwable => () } // server closed
  }, "fake-master")
  acceptor.setDaemon(true)
  acceptor.start()

  override def close(): Unit = { server.close(); acceptor.join(5000) }

  // HandshakeV10: proto, version NUL, thread id, scramble part1(8),
  // filler, caps low, charset, status, caps high, auth-data len 21,
  // 10 reserved, part2(12) + NUL, plugin NUL.
  private def greeting(plugin: String, scramble: Array[Byte]): Array[Byte] = {
    val caps = ClientProtocol41 | ClientSecureConnection | ClientPluginAuth |
      ClientLongPassword
    new ByteWriter().u8(10).strNul("8.0.36-fake").u32(77L)
      .raw(scramble.take(8)).u8(0)
      .u16((caps & 0xffff).toInt).u8(33).u16(2)
      .u16(((caps >> 16) & 0xffff).toInt).u8(21)
      .raw(new Array[Byte](10))
      .raw(scramble.drop(8)).u8(0)
      .strNul(plugin).result
  }

  // HandshakeResponse41 → (user, token, plugin)
  private def parseResponse(p: Array[Byte]): (String, Array[Byte], String) = {
    val c = new Binlog.Cursor(p, 0)
    c.u32(); c.u32(); c.u8(); c.bytes(23)
    val uEnd = p.indexOf(0.toByte, c.off)
    val user = new String(p, c.off, uEnd - c.off, UTF_8)
    c.off = uEnd + 1
    val token = c.bytes(c.u8())
    val pEnd = p.indexOf(0.toByte, c.off)
    val plugin = new String(p, c.off, (if (pEnd < 0) p.length else pEnd) - c.off, UTF_8)
    (user, token, plugin)
  }

  private def writeResultSet(io: PacketIO, cols: Seq[String],
      rows: Seq[Seq[String]]): Unit = {
    io.write(new ByteWriter().lenenc(cols.length.toLong).result)
    cols.foreach { n =>
      val w = new ByteWriter()
      Seq("def", "", "", "", n, n).foreach(s => w.lenenc(s.length.toLong).str(s))
      w.u8(0x0c).u16(33).u32(192L).u8(0xfd).u16(0).u8(0).u16(0)
      io.write(w.result)
    }
    io.write(FakeMaster.eofPacket)
    rows.foreach { r =>
      val w = new ByteWriter()
      r.foreach(s => w.lenenc(s.length.toLong).str(s))
      io.write(w.result)
    }
    io.write(FakeMaster.eofPacket)
  }

  /** Stream one dump's frames. In semi-sync mode each frame gets the
    * 0xef+flag prefix; every non-artificial, non-heartbeat frame
    * requests an ACK, which is read back and VERIFIED (magic +
    * position + file) before the next frame goes out — the lock-step
    * a semisync master actually runs in AFTER_SYNC mode. */
  private def streamFrames(io: PacketIO, session: Session): Unit =
    session.frames.foreach { f =>
      if (session.semiSync) {
        val artificial = (f(17) & BinlogClient.ArtificialFlag) != 0
        val heartbeat = (f(4) & 0xff) == BinlogClient.HeartbeatEvent ||
          (f(4) & 0xff) == BinlogClient.HeartbeatEventV2
        val wantAck = !artificial && !heartbeat
        io.write(0x00.toByte +: BinlogClient.SemiSyncMagic.toByte +:
          (if (wantAck) 1 else 0).toByte +: f)
        if (wantAck) {
          io.resetSeq()
          val ack = io.read()
          require((ack(0) & 0xff) == BinlogClient.SemiSyncMagic,
            s"bad semi-sync ack magic 0x${(ack(0) & 0xff).toHexString}")
          val pos = new Binlog.Cursor(ack, 1).i64()
          val file = new String(ack, 9, ack.length - 9, UTF_8)
          val expected = new Binlog.Cursor(f, 13).u32()
          require(pos == expected,
            s"semi-sync ack position $pos != event next_pos $expected")
          log.add(s"ack:$file:$pos")
        }
      } else io.write(0x00.toByte +: f)
    }

  private def handle(sock: Socket, session: Session): Unit = {
    val io = new PacketIO(new BufferedInputStream(sock.getInputStream),
      new BufferedOutputStream(sock.getOutputStream))
    val scramble = Array.tabulate[Byte](20)(i => (i * 7 + 3).toByte)
    io.write(greeting(session.greetPlugin, scramble))
    val (user, token, plugin) = parseResponse(io.read())
    log.add(s"auth:$user:$plugin")
    session.auth match {
      case NativeOk =>
        require(token.sameElements(nativePasswordToken(password, scramble)),
          "client sent a wrong mysql_native_password token")
        io.write(okPacket)
      case Sha2Fast =>
        require(token.sameElements(cachingSha2Token(password, scramble)),
          "client sent a wrong caching_sha2_password token")
        io.write(Array[Byte](0x01, 0x03))
        io.write(okPacket)
      case Sha2Full =>
        io.write(Array[Byte](0x01, 0x04))
        return
      case SwitchToSha2 =>
        val sc2 = Array.tabulate[Byte](20)(i => (i * 11 + 5).toByte)
        io.write(new ByteWriter().u8(0xfe).strNul(CachingSha2Plugin)
          .raw(sc2).u8(0).result)
        val tok2 = io.read()
        require(tok2.sameElements(cachingSha2Token(password, sc2)),
          "client sent a wrong token after AuthSwitch")
        io.write(Array[Byte](0x01, 0x03))
        io.write(okPacket)
      case ErrAuth =>
        io.write(errPacket(1045, "28000", "Access denied for user"))
        return
    }
    var open = true
    while (open) {
      io.resetSeq()
      val cmd = try io.read() catch { case _: EOFException => open = false; null }
      if (cmd != null) (cmd(0) & 0xff) match {
        case ComQuery =>
          val sql = new String(cmd, 1, cmd.length - 1, UTF_8)
          log.add(s"query:$sql")
          val up = sql.trim.toUpperCase
          if (up.startsWith("SELECT"))
            writeResultSet(io, Seq("@@global.binlog_checksum"), Seq(Seq("CRC32")))
          else if (up.startsWith("SHOW MASTER STATUS"))
            writeResultSet(io,
              Seq("File", "Position", "Binlog_Do_DB", "Binlog_Ignore_DB",
                "Executed_Gtid_Set"),
              Seq(Seq("binlog.000007", "4", "", "", "")))
          else io.write(okPacket)
        case ComRegisterSlave =>
          log.add(s"register:${new Binlog.Cursor(cmd, 1).u32()}")
          io.write(okPacket)
        case ComBinlogDump =>
          val c = new Binlog.Cursor(cmd, 1)
          val pos = c.u32(); c.u16(); c.u32()
          val file = new String(cmd, c.off, cmd.length - c.off, UTF_8)
          log.add(s"dump:$file:$pos")
          session.dumpErr match {
            case Some((code, state, msg)) => io.write(errPacket(code, state, msg))
            case None =>
              streamFrames(io, session)
              session.afterFrames match {
                case "eof" => io.write(eofPacket)
                case "die" => sock.close(); open = false
                case "hold" => // loop re-enters io.read(), which blocks
                  // until a side closes — a live master between events
              }
          }
        case ComBinlogDumpGtid =>
          val c = new Binlog.Cursor(cmd, 1)
          c.u16(); c.u32()
          val fn = c.bytes(c.u32().toInt)
          c.i64()
          c.u32() // data length
          val nSids = c.i64()
          val sids = (0L until nSids).map { _ =>
            val sid = c.bytes(16).map(b => f"${b & 0xff}%02x").mkString
            val nIv = c.i64()
            val ivs = (0L until nIv).map(_ => s"${c.i64()}-${c.i64()}")
            s"$sid[${ivs.mkString(",")}]"
          }
          log.add(s"dumpgtid:${new String(fn, UTF_8)}:${sids.mkString(";")}")
          session.dumpErr match {
            case Some((code, state, msg)) => io.write(errPacket(code, state, msg))
            case None =>
              streamFrames(io, session)
              session.afterFrames match {
                case "eof" => io.write(eofPacket)
                case "die" => sock.close(); open = false
                case "hold" => ()
              }
          }
        case ComQuit => open = false
        case other =>
          io.write(errPacket(1047, "08S01", s"unknown command $other"))
      }
    }
  }
}

class MySqlSessionSpec extends AnyFunSuite {
  import FakeMaster._
  import BinlogWriter.{Buf, query}

  private def client(port: Int, pw: String = "secret") =
    new BinlogClient("127.0.0.1", port, "repl", pw, serverId = 4321,
      connectTimeoutMs = 5000, readTimeoutMs = 10000, heartbeatSeconds = 30)

  import BinlogWriter.{artificialRotate, splitFrames}

  private def heartbeatFrame(file: String): Array[Byte] = {
    val body = file.getBytes(UTF_8)
    val size = 19 + body.length + 4
    val frame = new Buf().u32(0L).u8(BinlogClient.HeartbeatEvent).u32(77L)
      .u32(size).u32(0L).u16(0).result ++ body
    val c = new CRC32; c.update(frame, 0, frame.length)
    frame ++ new Buf().u32(c.getValue).result
  }

  test("native auth + registration + dump: full golden transcript") {
    val masterFile = BinlogWriter.file(Seq(
      Binlog.QueryEvent -> query("app", "CREATE TABLE t (id INT)")))
    val frames = splitFrames(masterFile)
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      artificialRotate("binlog.000007", 4) +: frames.take(1) ++:
        heartbeatFrame("binlog.000007") +: frames.drop(1))))
    try {
      val c = client(master.port)
      try {
        assert(c.handshake.serverVersion == "8.0.36-fake")
        assert(c.handshake.scramble.length == 20)
        assert(c.handshake.authPlugin == NativePasswordPlugin)
        val got = c.dump("binlog.000007", 4).toVector
        // artificial rotate surfaces (flagged), heartbeat does not
        assert(got.map(_.eventType) ==
          Vector(Binlog.RotateEvent, Binlog.FormatDescriptionEvent,
            Binlog.QueryEvent))
        assert(got.head.artificial && got.head.checksummed)
        assert(got.head.rotateTarget == ("binlog.000007", 4L))
        assert(got.tail.forall(!_.artificial))
        // frames arrive byte-identical to the master's file
        assert(got(1).bytes.sameElements(frames(0)))
        assert(got(2).bytes.sameElements(frames(1)))
      } finally c.close()
      val log = master.log.asScala.toVector
      assert(log.head == s"auth:repl:$NativePasswordPlugin")
      assert(log.contains("register:4321"))
      assert(log.contains("dump:binlog.000007:4"))
      assert(log.exists(_.startsWith(
        "query:SET @master_binlog_checksum")))
      assert(log.contains(
        s"query:SET @master_heartbeat_period = ${30L * 1000000000L}"))
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
  }

  test("caching_sha2 fast path authenticates and queries") {
    val master = new FakeMaster("secret",
      Seq(Session(Sha2Fast, greetPlugin = CachingSha2Plugin)))
    try {
      val c = client(master.port)
      try {
        assert(c.handshake.authPlugin == CachingSha2Plugin)
        assert(c.queryScalar("SELECT @@global.binlog_checksum")
          .contains("CRC32"))
        val (file, pos, _) = c.masterStatus()
        assert((file, pos) == ("binlog.000007", 4L))
      } finally c.close()
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
  }

  test("AuthSwitch mid-handshake re-scrambles with the new plugin") {
    val master = new FakeMaster("secret", Seq(Session(SwitchToSha2)))
    try {
      val c = client(master.port)
      try assert(c.exec("SET x = 1").affectedRows == 0L) finally c.close()
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
  }

  test("caching_sha2 full auth (0x04) is refused loudly") {
    val master = new FakeMaster("secret",
      Seq(Session(Sha2Full, greetPlugin = CachingSha2Plugin)))
    try {
      val e = intercept[IllegalArgumentException](client(master.port))
      assert(e.getMessage.contains("full authentication"))
    } finally master.close()
  }

  test("auth rejection surfaces the server ERR") {
    val master = new FakeMaster("other", Seq(Session(ErrAuth)))
    try {
      val e = intercept[MySqlErrorException](client(master.port))
      assert(e.err.code == 1045 && e.err.message.contains("Access denied"))
    } finally master.close()
  }

  test("dumpGtid encodes the executed set as closed→half-open intervals") {
    val master = new FakeMaster("secret", Seq(Session(NativeOk)))
    try {
      val c = client(master.port)
      try {
        val it = c.dumpGtid("3E11FA47-71CA-11E1-9E33-C80AA9429562:1-5:7")
        assert(it.isEmpty) // EOF right away
      } finally c.close()
      val dumpLog = master.log.asScala.find(_.startsWith("dumpgtid:"))
      // wire form: [1,6) and [7,8) — stop is exclusive on the wire
      assert(dumpLog.contains(
        "dumpgtid::3e11fa4771ca11e19e33c80aa9429562[1-6,7-8]"), dumpLog)
    } finally master.close()
  }

  test("semi-sync: capability announced, every flagged frame ACKed at its next_pos") {
    val masterFile = BinlogWriter.file(Seq(
      Binlog.QueryEvent -> query("app", "CREATE TABLE t (id INT)"),
      Binlog.XidEvent -> BinlogWriter.xid(5)))
    val frames = splitFrames(masterFile) // FDE, query, xid
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      artificialRotate("binlog.000007", 4) +:
        frames.take(2) ++: heartbeatFrame("binlog.000007") +: frames.drop(2),
      semiSync = true)))
    try {
      val c = new BinlogClient("127.0.0.1", master.port, "repl", "secret",
        serverId = 4321, connectTimeoutMs = 5000, readTimeoutMs = 10000,
        heartbeatSeconds = 30, semiSync = true)
      try {
        val got = c.dump("binlog.000007", 4).toVector
        // the stream still yields the same frames (heartbeat eaten)
        assert(got.map(_.eventType) == Vector(Binlog.RotateEvent,
          Binlog.FormatDescriptionEvent, Binlog.QueryEvent, Binlog.XidEvent))
        assert(got(2).bytes.sameElements(frames(1)))
      } finally c.close()
      val log = master.log.asScala.toVector
      assert(log.contains("query:SET @rpl_semi_sync_slave = 1"))
      // the master VERIFIED each ack's position in streamFrames; the
      // log records one ack per real frame, in order, at next_pos
      val expected = frames.map(f =>
        s"ack:binlog.000007:${new Binlog.Cursor(f, 13).u32()}")
      assert(log.filter(_.startsWith("ack:")) == expected)
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
  }

  test("semi-sync announced but master streams plain frames: fails loudly") {
    val frames = splitFrames(BinlogWriter.file(Seq(
      Binlog.XidEvent -> BinlogWriter.xid(1))))
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      artificialRotate("binlog.000007", 4) +: frames))) // semiSync = false
    try {
      val c = new BinlogClient("127.0.0.1", master.port, "repl", "secret",
        serverId = 4321, connectTimeoutMs = 5000, readTimeoutMs = 10000,
        heartbeatSeconds = 30, semiSync = true)
      try {
        val e = intercept[IllegalArgumentException](
          c.dump("binlog.000007", 4).toVector)
        assert(e.getMessage.contains("0xef"))
      } finally c.close()
    } finally master.close()
  }

  test("dump carries a ZSTD transaction payload and MariaDB GTIDs through the wire") {
    // the features a production 8.0.20+/MariaDB master exercises
    // first: a compressed transaction wrapper and the MariaDB GTID
    // dialect, streamed over the real loopback socket and decoded
    // from the relayed frames
    import BinlogWriter.{innerStream, mariaGtid, tableMap, transactionPayload,
      rows, Col, V}
    val cols = Seq(Col(graft.sources.Binlog.Type.Long, 0))
    def ins(id: Long) = rows(Binlog.WriteRowsV2, 3, 1,
      Seq(Seq(V(new Buf().u32(id).result))))
    val masterFile = BinlogWriter.file(Seq(
      Binlog.MariaGtidEvent -> mariaGtid(0, 5),
      Binlog.TransactionPayloadEvent -> transactionPayload(
        innerStream(Seq(
          Binlog.QueryEvent -> query("d", "BEGIN"),
          Binlog.TableMapEvent -> tableMap(3, "d", "t", cols),
          Binlog.WriteRowsV2 -> ins(11),
          Binlog.WriteRowsV2 -> ins(12))), zstd = true)))
    val frames = splitFrames(masterFile)
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      artificialRotate("binlog.000009", 4) +: frames)))
    try {
      val c = client(master.port)
      try {
        val got = c.dump("binlog.000009", 4).toVector
        assert(got.map(_.eventType) == Vector(Binlog.RotateEvent,
          Binlog.FormatDescriptionEvent, Binlog.MariaGtidEvent,
          Binlog.TransactionPayloadEvent))
        // reassemble the streamed frames into a segment; the decoder
        // must expand the compressed transaction and track the
        // MariaDB position
        val seg = Binlog.Magic ++
          got.filterNot(_.artificial).flatMap(_.bytes)
        val evs = Binlog.changeEvents(seg, Map(("d", "t") -> Seq("a")))
        assert(evs.map(_.after("a")) == Vector("11", "12"))
        assert(evs.forall(_.op == "insert"))
        assert(evs.forall(_.pos == "0-1-5"), evs.map(_.pos).toString)
      } finally c.close()
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
  }

  test("MariaDB auto-position dump registers via session variables, not DUMP_GTID") {
    import BinlogWriter.{mariaGtid, tableMap, rows, Col, V}
    val cols = Seq(Col(graft.sources.Binlog.Type.Long, 0))
    val masterFile = BinlogWriter.file(Seq(
      Binlog.MariaGtidEvent -> mariaGtid(0, 6),
      Binlog.TableMapEvent -> tableMap(3, "d", "t", cols),
      Binlog.WriteRowsV2 -> rows(Binlog.WriteRowsV2, 3, 1,
        Seq(Seq(V(new Buf().u32(21).result))))))
    val frames = splitFrames(masterFile)
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      artificialRotate("mariadb-bin.000002", 4) +: frames)))
    try {
      val c = client(master.port)
      try {
        val got = c.dumpGtidMaria("0-1-5").toVector
        assert(got.map(_.eventType) == Vector(Binlog.RotateEvent,
          Binlog.FormatDescriptionEvent, Binlog.MariaGtidEvent,
          Binlog.TableMapEvent, Binlog.WriteRowsV2))
        val seg = Binlog.Magic ++
          got.filterNot(_.artificial).flatMap(_.bytes)
        val evs = Binlog.changeEvents(seg, Map(("d", "t") -> Seq("a")))
        assert(evs.map(_.after("a")) == Vector("21"))
        assert(evs.head.pos == "0-1-6")
      } finally c.close()
      val log = master.log.asScala.toVector
      // the dialect: position via session vars, then a PLAIN dump
      // with an empty file name — never COM_BINLOG_DUMP_GTID
      assert(log.contains("query:SET @slave_connect_state = '0-1-5'"))
      assert(log.contains("query:SET @mariadb_slave_capability = 4"))
      assert(log.contains("dump::4"), log.filter(_.startsWith("dump")).toString)
      assert(!log.exists(_.startsWith("dumpgtid:")))
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally master.close()
    // a malformed position cannot reach the SET interpolation
    val master2 = new FakeMaster("secret", Seq(Session(NativeOk)))
    try {
      val c2 = client(master2.port)
      try {
        val e = intercept[IllegalArgumentException](
          c2.dumpGtidMaria("0-1-5'; DROP TABLE x"))
        assert(e.getMessage.contains("malformed MariaDB GTID"))
      } finally c2.close()
    } finally master2.close()
  }

  test("purged-binlog resume (error 1236) raises an actionable error naming the position") {
    // GTID auto-position path: the checkpointed set asks for gnos the
    // master has already expired
    val master = new FakeMaster("secret", Seq(Session(NativeOk,
      dumpErr = Some((1236, "HY000",
        "Cannot replicate because the master purged required binary logs")))))
    try {
      val c = client(master.port)
      try {
        val set = "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-5"
        val it = c.dumpGtid(set)
        val e = intercept[IllegalStateException](it.hasNext)
        // names what WE asked for, the server's reason, and the
        // recovery (re-seed + a fresh start at the current executed
        // set, through the input's 'gtid' key)
        assert(e.getMessage.contains(set))
        assert(e.getMessage.contains("1236"))
        assert(e.getMessage.contains("purged"))
        assert(e.getMessage.contains("Re-seed the target"))
        assert(e.getMessage.contains("fresh checkpoint"))
        assert(e.getMessage.contains("input key 'gtid'"))
        assert(e.getCause.isInstanceOf[MySqlErrorException])
      } finally c.close()
    } finally master.close()
    // file/pos path: same contract
    val master2 = new FakeMaster("secret", Seq(Session(NativeOk,
      dumpErr = Some((1236, "HY000",
        "Could not find first log file name in binary log index file")))))
    try {
      val c2 = client(master2.port)
      try {
        val e2 = intercept[IllegalStateException](
          c2.dump("binlog.000001", 4).hasNext)
        assert(e2.getMessage.contains("file=binlog.000001 pos=4"))
        assert(e2.getMessage.contains("Re-seed the target"))
        assert(e2.getMessage.contains("input key 'gtid'"))
      } finally c2.close()
    } finally master2.close()
    // any OTHER server error passes through untranslated — the 1236
    // wrapper must not swallow unrelated failures
    val master3 = new FakeMaster("secret", Seq(Session(NativeOk,
      dumpErr = Some((1045, "28000", "not allowed")))))
    try {
      val c3 = client(master3.port)
      try {
        val e3 = intercept[MySqlErrorException](
          c3.dump("binlog.000001", 4).hasNext)
        assert(e3.err.code == 1045)
      } finally c3.close()
    } finally master3.close()
  }

  test("soak: thousands of events, interleaved heartbeats, repeated forced " +
      "reconnects — relay byte-identical") {
    val nEvents = 3000
    val masterFile = BinlogWriter.file(
      (0 until nEvents).map(i =>
        Binlog.QueryEvent -> query("app", s"INSERT INTO t VALUES ($i)")))
    val frames = splitFrames(masterFile) // FDE + nEvents query frames
    assert(frames.length == nEvents + 1)
    def posAfter(frameIdx: Int): Long =
      new Binlog.Cursor(frames(frameIdx), 13).u32()
    // 4 sessions = 3 forced mid-stream deaths; each resumed session
    // re-sends the FDE (as a real server does) which the relay must
    // skip, and every session interleaves heartbeats every 50 frames
    val cuts = Seq(0, 900, 1900, 2500, frames.length)
    def withHeartbeats(fs: Seq[Array[Byte]]): Seq[Array[Byte]] =
      fs.grouped(50).flatMap(g => g :+ heartbeatFrame("binlog.000007"))
        .toSeq
    val sessions = (0 until 4).map { k =>
      val start = cuts(k); val end = cuts(k + 1)
      val resumePos = if (k == 0) 4L else posAfter(start - 1)
      val body = if (k == 0) frames.slice(start, end)
        else frames.take(1) ++ frames.slice(start, end) // re-sent FDE
      Session(NativeOk,
        artificialRotate("binlog.000007", resumePos) +: withHeartbeats(body),
        afterFrames = if (k == 3) "eof" else "die")
    }
    val master = new FakeMaster("secret", sessions)
    val dir = Files.createTempDirectory("graft-relay-soak")
    try {
      val relay = new BinlogRelay(dir, () => client(master.port),
        BinlogRelay.FilePos("binlog.000007", 4),
        retryBackoffMs = 10, maxRetries = 10, stopAtEof = true)
      relay.startRelay()
      assert(relay.awaitTermination(120000), "relay did not finish")
      // every reconnect resumed at the last durable frame's next_pos
      val dumps = master.log.asScala.filter(_.startsWith("dump:")).toVector
      assert(dumps == Vector(
        "dump:binlog.000007:4",
        s"dump:binlog.000007:${posAfter(899)}",
        s"dump:binlog.000007:${posAfter(1899)}",
        s"dump:binlog.000007:${posAfter(2499)}"), dumps)
      // byte-identical reproduction, no duplicated or dropped frames
      val seg = Files.readAllBytes(dir.resolve("binlog.000007"))
      assert(seg.sameElements(masterFile),
        s"segment ${seg.length}B != master file ${masterFile.length}B")
      assert(relay.appendedFrames == frames.length)
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally {
      master.close()
      dir.toFile.listFiles().foreach(_.delete()); Files.delete(dir)
    }
  }

  test("soak: mid-stream master restart with GTID auto-position start — " +
      "rotate to a new binlog file, both segments byte-identical, " +
      "resume gapless") {
    // the restart scenario the per-file soak does not cover: the
    // master dies mid-file-000007, comes back, finishes 000007, ends
    // it with a REAL ROTATE (as a restarting/rotating master does),
    // and continues into 000008 (which starts with its OWN FDE). The
    // relay must (a) resume exactly at its own last durable frame's
    // next_pos, (b) skip the re-sent FDE, (c) append the rotate and
    // switch segments, so BOTH local segments are byte-identical to
    // the master's files and each is independently decodable.
    val n1 = 800; val n2 = 800
    val rotateBody = new Buf().u64(4L)
      .raw("binlog.000008".getBytes(UTF_8)).result
    val file1 = BinlogWriter.file(
      (0 until n1).map(i =>
        Binlog.QueryEvent -> query("app", s"INSERT INTO t VALUES ($i)")) :+
        (Binlog.RotateEvent -> rotateBody))
    val file2 = BinlogWriter.file(
      (0 until n2).map(i =>
        Binlog.QueryEvent -> query("app", s"INSERT INTO t VALUES (${n1 + i})")))
    val frames1 = splitFrames(file1) // FDE1 + n1 queries + real rotate
    val frames2 = splitFrames(file2) // FDE2 + n2 queries
    assert(frames1.length == n1 + 2 && frames2.length == n2 + 1)
    val cut = 351 // session 1 dies after FDE1 + 350 data frames
    def posAfter(fs: Seq[Array[Byte]], idx: Int): Long =
      new Binlog.Cursor(fs(idx), 13).u32()
    def hb(fs: Seq[Array[Byte]], f: String): Seq[Array[Byte]] =
      fs.grouped(40).flatMap(g => g :+ heartbeatFrame(f)).toSeq
    val sessions = Seq(
      // pre-restart: GTID auto-position — the SERVER resolves the
      // file and announces it via the artificial ROTATE — then dies
      Session(NativeOk,
        artificialRotate("binlog.000007", 4) +:
          hb(frames1.take(cut), "binlog.000007"),
        afterFrames = "die"),
      // post-restart: resume from the relay's own coordinate;
      // re-sent FDE1, rest of file1 incl the real ROTATE, then
      // file2 from its head, to clean EOF
      Session(NativeOk,
        artificialRotate("binlog.000007", posAfter(frames1, cut - 1)) +:
          (frames1.take(1) ++
            hb(frames1.slice(cut, frames1.length), "binlog.000007") ++
            hb(frames2, "binlog.000008")),
        afterFrames = "eof"))
    val master = new FakeMaster("secret", sessions)
    val dir = Files.createTempDirectory("graft-relay-restart")
    try {
      val relay = new BinlogRelay(dir, () => client(master.port),
        BinlogRelay.Gtid("3E11FA47-71CA-11E1-9E33-C80AA9429562:1-77"),
        retryBackoffMs = 10, maxRetries = 10, stopAtEof = true)
      relay.startRelay()
      assert(relay.awaitTermination(120000), "relay did not finish")
      // session 1 asked by GTID set (wire-encoded half-open), session
      // 2 by the exact durable resume coordinate — gapless
      val dumps = master.log.asScala.filter(s =>
        s.startsWith("dump:") || s.startsWith("dumpgtid:")).toVector
      assert(dumps == Vector(
        "dumpgtid::3e11fa4771ca11e19e33c80aa9429562[1-78]",
        s"dump:binlog.000007:${posAfter(frames1, cut - 1)}"), dumps)
      // golden: both relay segments ARE the master's files
      val seg1 = Files.readAllBytes(dir.resolve("binlog.000007"))
      assert(seg1.sameElements(file1),
        s"segment1 ${seg1.length}B != master file1 ${file1.length}B")
      val seg2 = Files.readAllBytes(dir.resolve("binlog.000008"))
      assert(seg2.sameElements(file2),
        s"segment2 ${seg2.length}B != master file2 ${file2.length}B")
      // every frame appended exactly once (FDE re-send skipped)
      assert(relay.appendedFrames == frames1.length + frames2.length)
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally {
      master.close()
      dir.toFile.listFiles().foreach(_.delete()); Files.delete(dir)
    }
  }

  test("relay survives a mid-stream death and reproduces the master file byte-identically") {
    val masterFile = BinlogWriter.file(Seq(
      Binlog.QueryEvent -> query("app", "BEGIN"),
      Binlog.QueryEvent -> query("app", "INSERT 1"),
      Binlog.QueryEvent -> query("app", "COMMIT")))
    val frames = splitFrames(masterFile) // FDE, q1, q2, q3
    assert(frames.length == 4)
    // resume position after q2 = its header's next_pos field
    val posAfterQ2 = new Binlog.Cursor(frames(2), 13).u32()
    val master = new FakeMaster("secret", Seq(
      // session 1: rotate + FDE + q1 + heartbeat + q2, then DIES
      Session(NativeOk,
        artificialRotate("binlog.000007", 4) +: frames.take(2) ++:
          heartbeatFrame("binlog.000007") +: Seq(frames(2)),
        afterFrames = "die"),
      // session 2: re-dump from the resume point; FDE re-sent (as a
      // real server does) must be skipped by the relay, then q3, EOF
      Session(NativeOk,
        artificialRotate("binlog.000007", posAfterQ2) +: frames.take(1) ++:
          Seq(frames(3)))))
    val dir = Files.createTempDirectory("graft-relay-e2e")
    try {
      val relay = new BinlogRelay(dir, () => client(master.port),
        BinlogRelay.FilePos("binlog.000007", 4),
        retryBackoffMs = 10, maxRetries = 5, stopAtEof = true)
      relay.startRelay()
      assert(relay.awaitTermination(30000), "relay did not finish")
      // the reconnect actually happened, resuming at q2's next_pos
      val dumps = master.log.asScala.filter(_.startsWith("dump:")).toVector
      assert(dumps == Vector("dump:binlog.000007:4",
        s"dump:binlog.000007:$posAfterQ2"), dumps)
      // golden: the relayed segment IS the master's binlog file
      val seg = Files.readAllBytes(dir.resolve("binlog.000007"))
      assert(seg.sameElements(masterFile),
        s"segment ${seg.length}B != master file ${masterFile.length}B")
      assert(relay.appendedFrames == 4) // FDE + q1 + q2 + q3, no dupes
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally {
      master.close()
      dir.toFile.listFiles().foreach(_.delete()); Files.delete(dir)
    }
  }

  test("soak: SILENT master stall — heartbeats stop, the socket stays " +
      "open — read timeout fires and the relay reconnects at the exact " +
      "position") {
    // the failure mode the heartbeat protocol exists for
    // (mysql_replication.go:38-65 territory): a master that neither
    // sends nor closes. 'die' tests a broken socket; this holds the
    // socket OPEN with no bytes, so only the client's read timeout
    // (sized to the heartbeat period on a real deployment) can
    // detect the stall.
    val masterFile = BinlogWriter.file(Seq(
      Binlog.QueryEvent -> query("app", "INSERT 1"),
      Binlog.QueryEvent -> query("app", "INSERT 2"),
      Binlog.QueryEvent -> query("app", "INSERT 3")))
    val frames = splitFrames(masterFile) // FDE, q1, q2, q3
    val posAfterQ2 = new Binlog.Cursor(frames(2), 13).u32()
    val master = new FakeMaster("secret", Seq(
      // session 1: serves through q2 with a heartbeat proving
      // liveness handling, then goes SILENT (socket open, no bytes)
      Session(NativeOk,
        artificialRotate("binlog.000007", 4) +: frames.take(2) ++:
          heartbeatFrame("binlog.000007") +: Seq(frames(2)),
        afterFrames = "hold"),
      // session 2: post-reconnect resume; re-sent FDE skipped
      Session(NativeOk,
        artificialRotate("binlog.000007", posAfterQ2) +: frames.take(1) ++:
          Seq(frames(3)))))
    val dir = Files.createTempDirectory("graft-relay-stall")
    try {
      // read timeout well under the test budget: the stall must be
      // DETECTED by the timeout, not by anything the master does
      val stallClient = () => new BinlogClient("127.0.0.1", master.port,
        "repl", "secret", serverId = 4321, connectTimeoutMs = 5000,
        readTimeoutMs = 750, heartbeatSeconds = 30)
      val relay = new BinlogRelay(dir, stallClient,
        BinlogRelay.FilePos("binlog.000007", 4),
        retryBackoffMs = 10, maxRetries = 5, stopAtEof = true)
      relay.startRelay()
      assert(relay.awaitTermination(60000), "relay did not finish")
      // the stall surfaced as a read timeout, and the reconnect
      // resumed at q2's next_pos — nothing lost, nothing replayed
      assert(relay.lastError.exists(
        _.isInstanceOf[java.net.SocketTimeoutException]),
        s"expected a socket timeout, got ${relay.lastError}")
      val dumps = master.log.asScala.filter(_.startsWith("dump:")).toVector
      assert(dumps == Vector("dump:binlog.000007:4",
        s"dump:binlog.000007:$posAfterQ2"), dumps)
      val seg = Files.readAllBytes(dir.resolve("binlog.000007"))
      assert(seg.sameElements(masterFile),
        s"segment ${seg.length}B != master file ${masterFile.length}B")
      assert(relay.appendedFrames == 4)
      assert(master.firstFailure.isEmpty, master.firstFailure)
    } finally {
      master.close()
      dir.toFile.listFiles().foreach(_.delete()); Files.delete(dir)
    }
  }
}
