package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}

import MySqlWire._

/** A MySQL **replication client** session: connect → handshake/auth →
  * session setup → `COM_BINLOG_DUMP`/`COM_BINLOG_DUMP_GTID` → a
  * blocking iterator of binlog event frames.
  *
  * This is the layer the reference gets from
  * `replication.BinlogSyncer` (`inputs/mysql/mysql_replication.go:
  * 25-45`: configure host/port/user/password, `StartSyncGTID`,
  * then a `GetEvent` loop). Behavior matched:
  *
  *  - server-id registration (`COM_REGISTER_SLAVE`) so the session
  *    appears in `SHOW REPLICAS`;
  *  - `SET @master_binlog_checksum = @@global.binlog_checksum` — the
  *    standard replication-client handshake that makes a CRC32 server
  *    keep its checksums ON (this client's [[Binlog]] decoder then
  *    verifies every frame; stripping them would discard integrity);
  *  - `@master_heartbeat_period` so a quiet master still proves
  *    liveness (heartbeat frames are consumed here, never surfaced);
  *  - dump by explicit (file, pos) or by executed-GTID-set
  *    auto-position, the reference's mode.
  *
  * Auth: `mysql_native_password` and `caching_sha2_password`
  * (fast path), plus the AuthSwitch flow between them. caching_sha2
  * full auth (RSA/TLS key exchange) is refused loudly — a replica
  * account in the sandboxed test matrix always has a cached entry.
  *
  * The socket lives on the DRIVER (control plane). Event bytes are
  * relayed to segment files ([[BinlogRelay]]) that executors read
  * through the DSv2 source — the Spark-native split of a stateful
  * TCP tail into a replayable, partitionable data plane.
  */
final class BinlogClient(
    host: String,
    port: Int,
    user: String,
    password: String,
    serverId: Long,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 0, // 0 = block forever (heartbeats cover liveness)
    heartbeatSeconds: Int = 30,
    semiSync: Boolean = false) extends AutoCloseable {

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
  socket.setSoTimeout(readTimeoutMs)
  socket.setTcpNoDelay(true)
  private val io = new PacketIO(
    new BufferedInputStream(socket.getInputStream),
    new BufferedOutputStream(socket.getOutputStream))

  /** Server greeting (exposed for tests / logging). */
  val handshake: Handshake = parseHandshake(io.read())

  authenticate()

  private def authenticate(): Unit = {
    val token = tokenFor(handshake.authPlugin, password, handshake.scramble)
    io.write(handshakeResponse(user, token, handshake.authPlugin))
    var p = orThrow(io.read())
    if (isAuthSwitch(p)) {
      val sw = parseAuthSwitch(p)
      io.write(tokenFor(sw.plugin, password, sw.scramble))
      p = orThrow(io.read())
    }
    if (isAuthMoreData(p)) {
      // caching_sha2 continuation: 0x03 fast success → OK follows;
      // 0x04 would require RSA/TLS full auth.
      require(p.length >= 2 && (p(1) & 0xff) == 0x03,
        "caching_sha2_password full authentication requested — this client " +
          "supports the fast path only (account must have a cached entry)")
      p = orThrow(io.read())
    }
    require(isOk(p), "authentication did not complete with OK")
  }

  // ---- queries ---------------------------------------------------------

  /** Execute a statement, expecting OK (SET/DML). */
  def exec(sql: String): Ok = {
    io.command(comQuery(sql))
    parseOk(orThrow(io.read()))
  }

  /** Execute a query, materializing the (small, control-plane-sized)
    * text resultset. */
  def query(sql: String): ResultSet = {
    io.command(comQuery(sql))
    readResultSet(io)
  }

  def queryScalar(sql: String): Option[String] =
    query(sql).rows.headOption.flatMap(_.headOption.flatten)

  /** `SHOW MASTER STATUS` → (current file, position, executed GTID
    * set) — the bootstrap coordinate when no checkpoint exists
    * (≙ `mysql_position.go:127-148` falling back to the server's
    * current position). */
  def masterStatus(): (String, Long, String) = {
    val rs = query("SHOW MASTER STATUS")
    require(rs.rows.nonEmpty, "SHOW MASTER STATUS returned no rows (binlog off?)")
    val byName = rs.columns.map(_.toLowerCase).zip(rs.rows.head).toMap
    (byName.getOrElse("file", None).getOrElse(
        throw new IllegalStateException("SHOW MASTER STATUS: no File column")),
      byName.getOrElse("position", None).map(_.toLong).getOrElse(4L),
      byName.getOrElse("executed_gtid_set", None).getOrElse(""))
  }

  // ---- replication stream ----------------------------------------------

  /** Whether the dump stream appends CRC32s to every frame — learned
    * by querying the server variable, the same way stock clients do
    * (the FDE would also say, but it arrives after the artificial
    * ROTATE that must already be parsed). */
  @volatile private var checksummed = false

  /** Standard pre-dump session setup (exactly what stock replication
    * clients send, in the same order). */
  private def prepareDump(): Unit = {
    exec("SET @master_binlog_checksum = @@global.binlog_checksum")
    checksummed = queryScalar("SELECT @@global.binlog_checksum")
      .exists(_.equalsIgnoreCase("CRC32"))
    if (heartbeatSeconds > 0)
      exec(s"SET @master_heartbeat_period = ${heartbeatSeconds.toLong * 1000000000L}")
    // semi-sync capability announcement: the master's semisync plugin
    // reads this user variable and switches the dump stream to
    // 0xef-prefixed frames that may request per-event ACKs
    if (semiSync) exec("SET @rpl_semi_sync_slave = 1")
    io.command(comRegisterSlave(serverId))
    orThrow(io.read())
  }

  /** Dump-stream file coordinate for semi-sync ACKs — seeded by the
    * dump request, updated by every ROTATE frame (artificial or
    * real: both name the current file). */
  @volatile private var dumpFile: String = ""

  /** Start a position-based dump. Returns the raw frame iterator. */
  def dump(file: String, pos: Long): Iterator[BinlogClient.Frame] = {
    prepareDump()
    dumpFile = file
    io.command(comBinlogDump(serverId, file, pos))
    framesOrExplainPurged(s"file=$file pos=$pos")
  }

  /** Start a GTID auto-position dump from an executed-set string
    * (`uuid:1-5,uuid2:1-3`; empty = from the earliest retained log). */
  def dumpGtid(executedGtidSet: String): Iterator[BinlogClient.Frame] = {
    prepareDump()
    io.command(comBinlogDumpGtid(serverId, parseGtidSetString(executedGtidSet)))
    framesOrExplainPurged(s"gtid set '$executedGtidSet'")
  }

  /** MariaDB GTID auto-position dump. MariaDB has no
    * `COM_BINLOG_DUMP_GTID` — the start coordinate registers through
    * SESSION VARIABLES (`@slave_connect_state` carries the
    * domain-server-seqno position; `@mariadb_slave_capability`
    * announces the feature level) and the dump itself is a plain
    * `COM_BINLOG_DUMP` with an EMPTY file name, which the server
    * resolves from the variable. The position string is validated
    * (it is interpolated into a SET statement). */
  def dumpGtidMaria(gtidPos: String): Iterator[BinlogClient.Frame] = {
    // whole-string match: a per-segment split would vacuously pass
    // "," (split drops trailing empties) and "0-1-5," — fail loudly
    // here instead of as an obscure server error at dump time
    require(gtidPos.isEmpty ||
      gtidPos.matches("""\d+-\d+-\d+(,\d+-\d+-\d+)*"""),
      s"malformed MariaDB GTID position '$gtidPos' " +
        "(expected domain-server-seqno[,domain-server-seqno...])")
    prepareDump()
    exec(s"SET @slave_connect_state = '$gtidPos'")
    exec("SET @slave_gtid_strict_mode = 0")
    exec("SET @mariadb_slave_capability = 4")
    dumpFile = ""
    io.command(comBinlogDump(serverId, "", 4))
    framesOrExplainPurged(s"MariaDB gtid pos '$gtidPos'")
  }

  /** The dump error every long-lived pipeline eventually meets:
    * error 1236 (`ER_MASTER_FATAL_ERROR_READING_BINLOG`) — the master
    * has PURGED the binlogs covering the requested resume position
    * (expire_logs_days / PURGE BINARY LOGS outran the checkpoint).
    * The raw server text ("Could not find first log file name..." /
    * "...have been purged...") names neither what WE asked for nor
    * the recovery, so rethrow with both: continuing from the
    * checkpoint is impossible and events in the gap are gone. The
    * recovery this engine supports: re-seed the target outside the
    * stream, then start on a fresh checkpoint and an empty relay dir
    * with the input's `gtid` key (`mariadbGtid` on MariaDB) set to the
    * master's CURRENT executed set. The ERR arrives
    * as the first dump-stream response, i.e. inside the iterator's
    * first advance — hence the wrapper, not a try around the command
    * write. */
  private def framesOrExplainPurged(
      resumeFrom: String): Iterator[BinlogClient.Frame] = {
    val it = frames()
    def explain[T](body: => T): T =
      try body catch {
        case e: MySqlErrorException
            if e.err.code == BinlogClient.ErMasterFatalErrorReadingBinlog =>
          throw new IllegalStateException(
            s"cannot resume replication from $resumeFrom: the master " +
              s"reports error 1236 (${e.err.message}) — the binlogs " +
              "covering that position have been purged. Events between " +
              "the checkpoint and the earliest retained log are " +
              "unrecoverable from the stream. Re-seed the target outside " +
              "the stream, then start on a fresh checkpoint and an empty " +
              "relayDir with input key 'gtid' set to the master's current " +
              "executed set (Executed_Gtid_Set of SHOW MASTER STATUS; " +
              "'mariadbGtid' from @@gtid_current_pos on MariaDB).", e)
      }
    new Iterator[BinlogClient.Frame] {
      override def hasNext: Boolean = explain(it.hasNext)
      override def next(): BinlogClient.Frame = explain(it.next())
    }
  }

  /** Blocking frame iterator over the dump stream. Each network
    * packet is `0x00` + one verbatim binlog event frame (19-byte
    * header + body [+ CRC]). Heartbeats keep the connection warm but
    * are not data; EOF (non-blocking mode) ends the stream; ERR
    * raises. */
  private def frames(): Iterator[BinlogClient.Frame] =
    new Iterator[BinlogClient.Frame] {
      private var nextFrame: BinlogClient.Frame = _
      private var done = false
      // Deferred semi-sync ACK: a DATA frame's ack is held until the
      // NEXT advance() — i.e. until the consumer has taken the frame
      // and come back for more. In the relay loop (next → append →
      // hasNext) that is AFTER the durable relay append, which is
      // the point AFTER_SYNC semantics require: an ack on raw
      // socket receipt would let the master commit a transaction no
      // replica copy of which survives a crash in between.
      private var pendingAck: Long = -1L

      private def flushAck(): Unit = if (pendingAck >= 0) {
        io.command(new ByteWriter().u8(BinlogClient.SemiSyncMagic)
          .u64(pendingAck).str(dumpFile).result)
        pendingAck = -1L
      }

      private def advance(): Unit = {
        nextFrame = null
        flushAck()
        while (nextFrame == null && !done) {
          val p = orThrow(io.read())
          if (isEof(p)) done = true
          else {
            require((p(0) & 0xff) == 0x00, s"unexpected dump packet lead 0x${(p(0) & 0xff).toHexString}")
            // semi-sync framing: 0x00, then 0xef + flag, then the
            // event frame; flag bit 0 = the master is waiting for
            // this event's ACK (rpl_semi_sync_master_wait_point)
            var start = 1
            var ackRequested = false
            if (semiSync) {
              require(p.length >= 3 && (p(1) & 0xff) == BinlogClient.SemiSyncMagic,
                "semi-sync announced but the dump packet lacks the 0xef header")
              ackRequested = (p(2) & 0x01) != 0
              start = 3
            }
            val bytes = java.util.Arrays.copyOfRange(p, start, p.length)
            require(bytes.length >= 19, s"short binlog frame (${bytes.length} bytes)")
            val c = new Binlog.Cursor(bytes, 0)
            val h = Binlog.Header(c.u32(), c.u8(), c.u32(), c.u32().toInt, c.u32(), c.u16())
            val frame = BinlogClient.Frame(h, bytes,
              artificial = (h.flags & BinlogClient.ArtificialFlag) != 0,
              checksummed = checksummed)
            if (h.eventType == Binlog.RotateEvent)
              dumpFile = frame.rotateTarget._1
            val isHeartbeat = h.eventType == BinlogClient.HeartbeatEvent ||
              h.eventType == BinlogClient.HeartbeatEventV2
            if (!isHeartbeat) nextFrame = frame
            if (ackRequested) {
              // position = the event's end (next_pos), the coordinate
              // the master's semisync plugin waits on. Heartbeats are
              // content-free → ack immediately; data frames defer to
              // the next advance() (see pendingAck above).
              if (isHeartbeat)
                io.command(new ByteWriter().u8(BinlogClient.SemiSyncMagic)
                  .u64(h.nextPos).str(dumpFile).result)
              else pendingAck = h.nextPos
            }
          }
        }
      }

      override def hasNext: Boolean = {
        if (nextFrame == null && !done) advance()
        nextFrame != null
      }
      override def next(): BinlogClient.Frame = {
        if (!hasNext) throw new NoSuchElementException("dump stream ended")
        val f = nextFrame; nextFrame = null; f
      }
    }

  override def close(): Unit = {
    // best-effort polite quit; the socket close is what matters
    try io.command(comQuit) catch { case _: Throwable => () }
    socket.close()
  }
}

object BinlogClient {
  val HeartbeatEvent = 27
  val HeartbeatEventV2 = 41
  /** ER_MASTER_FATAL_ERROR_READING_BINLOG: the resume position's
    * binlogs no longer exist on the master (purged). */
  val ErMasterFatalErrorReadingBinlog = 1236
  /** Semi-sync frame/ACK magic byte (semisync plugin wire format). */
  val SemiSyncMagic = 0xef
  /** LOG_EVENT_ARTIFICIAL_F: server-generated frame (the fake ROTATE
    * that names the file at dump start) — positional metadata, not
    * log content. */
  val ArtificialFlag = 0x20

  /** One event frame exactly as it would appear in the binlog file:
    * `bytes` = 19-byte header + body (+ CRC when `checksummed`),
    * CRC-valid as received. */
  final case class Frame(header: Binlog.Header, bytes: Array[Byte],
      artificial: Boolean, checksummed: Boolean) {
    def eventType: Int = header.eventType
    /** ROTATE body: 8-byte next-position + next file name. */
    def rotateTarget: (String, Long) = {
      require(eventType == Binlog.RotateEvent, "not a ROTATE frame")
      val end = bytes.length - (if (checksummed) 4 else 0)
      val c = new Binlog.Cursor(bytes, 19)
      val pos = c.i64()
      (new String(bytes, 27, end - 27, java.nio.charset.StandardCharsets.UTF_8), pos)
    }
  }
}
