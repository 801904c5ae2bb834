package graft

/** Minimal proto3 wire writer for test fixtures: builds OTLP request
  * bytes from the public opentelemetry-proto field numbers. It shares
  * no code with the decoder in `graft.sources.OtelProtoSource`, so a
  * misread tag or wire type shows up as a parity failure, not a silent
  * agreement. */
class ProtoWriter {
  private val b = new java.io.ByteArrayOutputStream()
  private def rawVarint(v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { b.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    b.write(v.toInt)
  }
  private def rawFixed64(v: Long): Unit = {
    var i = 0; while (i < 8) { b.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def tag(f: Int, wire: Int): Unit = rawVarint((f.toLong << 3) | wire)
  def vint(f: Int, v: Long): ProtoWriter = { tag(f, 0); rawVarint(v); this }
  def sint32(f: Int, v: Int): ProtoWriter =
    { tag(f, 0); rawVarint(((v << 1) ^ (v >> 31)) & 0xffffffffL); this }
  def fixed64(f: Int, v: Long): ProtoWriter = { tag(f, 1); rawFixed64(v); this }
  def fixed32(f: Int, v: Int): ProtoWriter = {
    tag(f, 5); var i = 0; while (i < 4) { b.write((v >>> (8 * i)) & 0xff); i += 1 }; this
  }
  def dbl(f: Int, d: Double): ProtoWriter =
    fixed64(f, java.lang.Double.doubleToLongBits(d))
  def str(f: Int, s: String): ProtoWriter = bytes(f, s.getBytes("UTF-8"))
  def bytes(f: Int, arr: Array[Byte]): ProtoWriter =
    { tag(f, 2); rawVarint(arr.length.toLong); b.write(arr); this }
  def hex(f: Int, h: String): ProtoWriter =
    bytes(f, h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
  def msg(f: Int, m: ProtoWriter): ProtoWriter = bytes(f, m.toBytes)
  def packedFixed64(f: Int, vs: Seq[Long]): ProtoWriter = {
    val m = new ProtoWriter; vs.foreach(m.rawFixed64); bytes(f, m.toBytes)
  }
  def packedDoubles(f: Int, vs: Seq[Double]): ProtoWriter =
    packedFixed64(f, vs.map(java.lang.Double.doubleToLongBits))
  def packedVarints(f: Int, vs: Seq[Long]): ProtoWriter = {
    val m = new ProtoWriter; vs.foreach(m.rawVarint); bytes(f, m.toBytes)
  }
  def toBytes: Array[Byte] = b.toByteArray
}
