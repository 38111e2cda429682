package graft.streaming

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

/** Modbus TCP wire protocol (MBAP framing + the four read function
  * codes), a polling client, and an embedded server for tests.
  *
  * Mirrors the capability of the reference's PLC poller
  * (api/modbus_client.py, api/plc_client.py:219 run_plc_client):
  * connect to `hostname:port`, read coils / discrete inputs / input
  * registers / holding registers per a JSON register map, decode
  * multi-register long/float/byte values with optional swap / scale /
  * offset, and emit one wide row per poll. The reference drives
  * pymodbus; this is a from-scratch implementation of the (public,
  * trivially simple) Modbus TCP frame: MBAP header = transaction id
  * (u16) + protocol id (u16, 0) + length (u16) + unit id (u8),
  * followed by a PDU = function code (u8) + payload, all big-endian.
  *
  * Scale notes: the client batches reads — all single-address points
  * of one kind are merged into contiguous block reads (one TCP
  * round-trip per block, mirroring modbus_client.py:1147
  * _batch_sorted_addresses), so a 100-point map polls in a handful of
  * requests, not 100.
  */
object ModbusTcp {
  val ReadCoils = 0x01
  val ReadDiscreteInputs = 0x02
  val ReadHoldingRegisters = 0x03
  val ReadInputRegisters = 0x04

  /** Per-request caps from the Modbus spec (and the reference's
    * _MAX_HOLDING_OR_INPUT / _MAX_COILS_OR_DISCRETE,
    * modbus_client.py:248-249). */
  val MaxRegistersPerRead = 125
  val MaxBitsPerRead = 2000

  /** Largest legal ADU is 260 bytes; any MBAP length beyond
    * 253 + 1 (unit) is a corrupt or hostile frame. */
  val MaxPduBytes = 253

  def exceptionName(code: Int): String = code match {
    case 1 => "ILLEGAL FUNCTION"
    case 2 => "ILLEGAL DATA ADDRESS"
    case 3 => "ILLEGAL DATA VALUE"
    case 4 => "SERVER DEVICE FAILURE"
    case c => s"EXCEPTION $c"
  }
}

/** A Modbus exception response (function | 0x80 + code). */
final case class ModbusError(function: Int, code: Int)
    extends RuntimeException(
      s"modbus exception on function $function: " +
        s"${ModbusTcp.exceptionName(code)} ($code)")

/** Blocking Modbus TCP client. One in-flight request at a time (the
  * poll loop is sequential); reads are idempotent, so a transport
  * failure mid-request reopens the socket once and retries (the
  * reference's _modbus_try_reopen_tcp, modbus_client.py:356). */
final class ModbusTcpClient(host: String, port: Int,
    timeoutMs: Int = 5000) {

  private val txn = new AtomicInteger(0)
  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _

  def connect(): Unit = synchronized {
    if (sock == null || sock.isClosed || !sock.isConnected) open()
  }

  private def open(): Unit = {
    closeQuietly()
    val s = new Socket()
    s.connect(new InetSocketAddress(host, port), timeoutMs)
    s.setSoTimeout(timeoutMs)
    s.setTcpNoDelay(true)
    sock = s
    in = new DataInputStream(new BufferedInputStream(s.getInputStream))
    out = new DataOutputStream(
      new BufferedOutputStream(s.getOutputStream))
  }

  private def closeQuietly(): Unit = {
    if (sock != null) {
      try sock.close() catch { case _: IOException => () }
      sock = null; in = null; out = null
    }
  }

  def close(): Unit = synchronized { closeQuietly() }

  /** One request/response exchange; returns the response PDU payload
    * after the function-code byte. Retries ONCE through a fresh
    * socket on transport failure (never on a Modbus exception — the
    * server answered; retrying would not change the answer). */
  private def exchange(unit: Int, fc: Int, start: Int,
      count: Int): Array[Byte] = synchronized {
    connect()
    try exchangeOnce(unit, fc, start, count)
    catch {
      case _: IOException =>
        open()
        exchangeOnce(unit, fc, start, count)
    }
  }

  private def exchangeOnce(unit: Int, fc: Int, start: Int,
      count: Int): Array[Byte] = {
    val tid = txn.incrementAndGet() & 0xFFFF
    out.writeShort(tid)
    out.writeShort(0) // protocol id
    out.writeShort(6) // unit + 5-byte read PDU
    out.writeByte(unit)
    out.writeByte(fc)
    out.writeShort(start)
    out.writeShort(count)
    out.flush()
    // response MBAP
    val rTid = in.readUnsignedShort()
    val rProto = in.readUnsignedShort()
    val rLen = in.readUnsignedShort()
    in.readUnsignedByte() // unit id (echoed)
    if (rProto != 0)
      throw new IOException(s"modbus: protocol id $rProto != 0")
    if (rTid != tid)
      throw new IOException(
        s"modbus: transaction id mismatch ($rTid != $tid)")
    if (rLen < 2 || rLen > ModbusTcp.MaxPduBytes + 1)
      throw new IOException(s"modbus: insane frame length $rLen")
    val pdu = new Array[Byte](rLen - 1)
    in.readFully(pdu)
    val rFc = pdu(0) & 0xFF
    if (rFc == (fc | 0x80)) {
      if (pdu.length < 2) throw new IOException(
        "modbus: truncated exception response")
      throw ModbusError(fc, pdu(1) & 0xFF)
    }
    if (rFc != fc)
      throw new IOException(s"modbus: function echo $rFc != $fc")
    if (pdu.length < 2) throw new IOException(
      "modbus: truncated response")
    val byteCount = pdu(1) & 0xFF
    if (byteCount != pdu.length - 2)
      throw new IOException(
        s"modbus: byte count $byteCount != ${pdu.length - 2}")
    java.util.Arrays.copyOfRange(pdu, 2, pdu.length)
  }

  private def readBits(fc: Int, unit: Int, start: Int,
      count: Int): IndexedSeq[Int] = {
    require(count >= 1 && count <= ModbusTcp.MaxBitsPerRead,
      s"bit read count $count out of range")
    val data = exchange(unit, fc, start, count)
    if (data.length < (count + 7) / 8)
      throw new IOException("modbus: short bit response")
    (0 until count).map(i => (data(i / 8) >> (i % 8)) & 1)
  }

  private def readRegs(fc: Int, unit: Int, start: Int,
      count: Int): IndexedSeq[Int] = {
    require(count >= 1 && count <= ModbusTcp.MaxRegistersPerRead,
      s"register read count $count out of range")
    val data = exchange(unit, fc, start, count)
    if (data.length < count * 2)
      throw new IOException("modbus: short register response")
    (0 until count).map(i =>
      ((data(2 * i) & 0xFF) << 8) | (data(2 * i + 1) & 0xFF))
  }

  def readCoils(unit: Int, start: Int, count: Int): IndexedSeq[Int] =
    readBits(ModbusTcp.ReadCoils, unit, start, count)
  def readDiscreteInputs(unit: Int, start: Int,
      count: Int): IndexedSeq[Int] =
    readBits(ModbusTcp.ReadDiscreteInputs, unit, start, count)
  def readHoldingRegisters(unit: Int, start: Int,
      count: Int): IndexedSeq[Int] =
    readRegs(ModbusTcp.ReadHoldingRegisters, unit, start, count)
  def readInputRegisters(unit: Int, start: Int,
      count: Int): IndexedSeq[Int] =
    readRegs(ModbusTcp.ReadInputRegisters, unit, start, count)
}

/** Immutable register bank served by [[ModbusTcpServer]]. Bits are
  * 0/1 ints; registers are unsigned 16-bit values. */
final case class ModbusBank(coils: Vector[Int] = Vector.empty,
    discrete: Vector[Int] = Vector.empty,
    holding: Vector[Int] = Vector.empty,
    input: Vector[Int] = Vector.empty)

/** Embedded Modbus TCP server (test fixture): serves FC 1/2/3/4 from
  * an atomically-swappable [[ModbusBank]]. Out-of-range reads answer
  * exception 2 (ILLEGAL DATA ADDRESS), bad counts exception 3,
  * unknown functions exception 1 — so client error paths are testable
  * against real wire responses. Malformed frames close the
  * connection (the spec's behavior for unparseable ADUs). */
final class ModbusTcpServer(bank0: ModbusBank = ModbusBank()) {

  private val bank = new AtomicReference[ModbusBank](bank0)
  private val running = new AtomicBoolean(false)
  private var server: ServerSocket = _
  private val conns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  def setBank(b: ModbusBank): Unit = bank.set(b)

  /** Bind and serve; `port` 0 picks an ephemeral port. A fixed port
    * lets tests restart the server at the same address (client
    * reconnect-across-restart soaks). */
  def start(port: Int = 0): Int = synchronized {
    require(!running.get(), "server already running")
    server = new ServerSocket(port)
    running.set(true)
    val th = new Thread(() => {
      while (running.get()) {
        try {
          val s = server.accept()
          s.setTcpNoDelay(true)
          conns.add(s)
          val h = new Thread(() => try serve(s) finally {
            conns.remove(s)
            try s.close() catch { case _: IOException => () }
          }, "graft-modbus-conn")
          h.setDaemon(true)
          h.start()
        } catch {
          case _: SocketException => () // closed in stop()
          case _: IOException => ()
        }
      }
    }, "graft-modbus-accept")
    th.setDaemon(true)
    th.start()
    server.getLocalPort
  }

  def stop(): Unit = synchronized {
    running.set(false)
    if (server != null)
      try server.close() catch { case _: IOException => () }
    conns.forEach(s =>
      try s.close() catch { case _: IOException => () })
    conns.clear()
  }

  /** Sever every live connection while continuing to accept new ones
    * (a mid-stream network fault, for client reconnect tests). */
  def dropConnections(): Unit = {
    conns.forEach(s =>
      try s.close() catch { case _: IOException => () })
    conns.clear()
  }

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(
      new BufferedInputStream(s.getInputStream))
    val out = new DataOutputStream(
      new BufferedOutputStream(s.getOutputStream))
    try {
      while (running.get()) {
        val tid = in.readUnsignedShort()
        val proto = in.readUnsignedShort()
        val len = in.readUnsignedShort()
        if (proto != 0 || len < 2 || len > ModbusTcp.MaxPduBytes + 1)
          return // malformed or hostile frame: drop the connection
        val unit = in.readUnsignedByte()
        val pdu = new Array[Byte](len - 1)
        in.readFully(pdu)
        val fc = pdu(0) & 0xFF
        val resp = respond(fc, pdu)
        out.writeShort(tid)
        out.writeShort(0)
        out.writeShort(resp.length + 1)
        out.writeByte(unit)
        out.write(resp)
        out.flush()
      }
    } catch {
      case _: EOFException => ()
      case _: IOException => ()
    }
  }

  private def err(fc: Int, code: Int): Array[Byte] =
    Array(((fc | 0x80) & 0xFF).toByte, code.toByte)

  private def respond(fc: Int, pdu: Array[Byte]): Array[Byte] = {
    import ModbusTcp._
    if (fc != ReadCoils && fc != ReadDiscreteInputs &&
        fc != ReadHoldingRegisters && fc != ReadInputRegisters)
      return err(fc, 1)
    if (pdu.length < 5) return err(fc, 3)
    val start = ((pdu(1) & 0xFF) << 8) | (pdu(2) & 0xFF)
    val count = ((pdu(3) & 0xFF) << 8) | (pdu(4) & 0xFF)
    val b = bank.get()
    val isBits = fc == ReadCoils || fc == ReadDiscreteInputs
    val cap = if (isBits) MaxBitsPerRead else MaxRegistersPerRead
    if (count < 1 || count > cap) return err(fc, 3)
    val table = fc match {
      case ReadCoils => b.coils
      case ReadDiscreteInputs => b.discrete
      case ReadHoldingRegisters => b.holding
      case ReadInputRegisters => b.input
    }
    if (start + count > table.length) return err(fc, 2)
    if (isBits) {
      val nBytes = (count + 7) / 8
      val data = new Array[Byte](nBytes)
      (0 until count).foreach { i =>
        if (table(start + i) != 0)
          data(i / 8) = (data(i / 8) | (1 << (i % 8))).toByte
      }
      Array(fc.toByte, nBytes.toByte) ++ data
    } else {
      val data = new Array[Byte](count * 2)
      (0 until count).foreach { i =>
        val w = table(start + i) & 0xFFFF
        data(2 * i) = (w >> 8).toByte
        data(2 * i + 1) = (w & 0xFF).toByte
      }
      Array(fc.toByte, (count * 2).toByte) ++ data
    }
  }
}
