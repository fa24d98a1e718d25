package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import graft.core.Point

/** Wire-format codec for the reference's mixed point blob
  * (`lib/TimeStore/Algorithms.hs:111-192`): a concatenation of 24-byte
  * little-endian records `(address, time, payload)`; when address bit 0 is
  * set, `payload` is the byte length of a blob that immediately follows the
  * header.
  *
  * Pure driver/executor-side functions; the Spark-facing form is the
  * [[graft.functions.DecodePoints]] generator expression built on
  * [[decode]].
  */
object PointCodec {

  final val RecordBytes = 24

  /** Parse a mixed blob. Fails (Left) on truncated input, like the
    * reference's `InvalidPayload` (`Core.hs:278-287`). */
  def decode(blob: Array[Byte]): Either[String, Vector[Point]] = {
    val buf = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN)
    val out = Vector.newBuilder[Point]
    while (buf.remaining() > 0) {
      if (buf.remaining() < RecordBytes)
        return Left(s"truncated point header at offset ${buf.position()}")
      val addr = buf.getLong
      val time = buf.getLong
      val payload = buf.getLong
      if ((addr & 1L) == 1L) {
        // extended: payload is the blob length (unsigned; sane inputs fit Int)
        if (payload < 0 || payload > buf.remaining())
          return Left(s"truncated extended payload at offset ${buf.position()}")
        val v = new Array[Byte](payload.toInt)
        buf.get(v)
        out += Point(addr, time, payload, v)
      } else {
        out += Point(addr, time, payload)
      }
    }
    Right(out.result())
  }

  /** Inverse of [[decode]] — used by tests and the ingest round-trip. */
  def encode(points: Seq[Point]): Array[Byte] = {
    val size = points.map(p =>
      RecordBytes + (if (p.isExtended) p.value.length else 0)).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    points.foreach { p =>
      buf.putLong(p.address).putLong(p.time)
      if (p.isExtended) {
        buf.putLong(p.value.length.toLong)
        buf.put(p.value)
      } else buf.putLong(p.payload)
    }
    buf.array()
  }
}
