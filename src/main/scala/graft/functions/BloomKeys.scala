package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical key derivation for every per-file bloom sketch in the
  * engine (`graft.catalog.IcebergMaintenance.writeBloomIndex` and its
  * probe `graft.catalog.IcebergTableReader.readPoint`).
  *
  * Sketches are keyed on `xxhash64` of the column value rather than a
  * raw `cast("long")` so STRING keys work — the single most common
  * telemetry needle is "fetch this trace" over a 32-hex-char
  * `trace_id` (reference: internal/arrow/traces.go:130 renders ids as
  * hex strings), which a long cast turns into null and the needle path
  * can't index at all. Hashing also removes the build-time NPE a null
  * or non-numeric key caused under the old cast (callers still filter
  * `isNotNull`: a null can never equal a point-lookup literal, so
  * dropping it is exact).
  *
  * Build side and probe side MUST agree bit-for-bit, so both live
  * here: [[keyCol]] is the distributed build expression, [[keyOf]] is
  * the driver-side probe twin (it evaluates the same Catalyst
  * `XxHash64` the codegen'd `xxhash64` function compiles to, seed 42).
  * Numeric and timestamp columns are canonicalized to LONG before
  * hashing — Spark's hash expressions hash int and long inputs
  * DIFFERENTLY, so without the cast a probe-by-long would silently
  * miss every key built from an int column. Timestamps hash their
  * micros (the same unit `readPoint`'s residual compares in).
  */
object BloomKeys {

  /** Marker recorded next to each sketch (Puffin blob property) so
    * probes can tell hash-keyed sketches from legacy raw-long ones and
    * never mis-probe an index written by an older build. */
  val Scheme = "xxhash64"

  /** Build-side key expression for the indexed column. */
  def keyCol(c: Column, dt: DataType): Column = dt match {
    case StringType    => xxhash64(c)
    case TimestampType => xxhash64(unix_micros(c))
    case BinaryType    => xxhash64(c)
    case _             => xxhash64(c.cast("long"))
  }

  /** Driver-side probe twin of [[keyCol]]: the xxhash64 of a needle
    * value, computed without a Spark job. Longs (and timestamp micros
    * passed as long) hash as LONG; strings as their UTF-8 bytes —
    * exactly what [[keyCol]] produced for those columns. */
  def keyOf(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val literal = value match {
      case s: String =>
        Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
                StringType)
      case b: Array[Byte] => Literal(b, BinaryType)
      case l: Long        => Literal(l, LongType)
      case i: Int         => Literal(i.toLong, LongType)
      case other => throw new IllegalArgumentException(
        s"unsupported bloom probe type: ${other.getClass.getName}")
    }
    // seed 42 = the default the SQL `xxhash64` function uses
    XxHash64(Seq(literal), 42L).eval(null).asInstanceOf[Long]
  }
}
