package pipebench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import graft.extract.OrdWire._

/** Protobuf wire-format writer for the ORD `Dataset` subtree that
  * [[graft.extract.OrdWire]] reads: the same field numbers, written in
  * reverse. Default-valued scalars are omitted, as a proto3 writer does, so
  * `OrdWire.decodeDataset(encodeDataset(name, id, rs))` gives back `rs` for
  * any reaction whose doubles are float-representable and whose units are 0
  * when their value is absent ([[CorpusGen]] only makes such reactions).
  */
object OrdEncoder {

  private final class Buf {
    val out = new ByteArrayOutputStream()
    def varint(v: Long): Unit = {
      var x = v
      while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
    }
    def tag(field: Int, wireType: Int): Unit = varint((field << 3 | wireType).toLong)
    def int(field: Int, v: Int): Unit = if (v != 0) { tag(field, 0); varint(v.toLong) }
    def bool(field: Int, v: Boolean): Unit = if (v) { tag(field, 0); varint(1) }
    def bytes(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong); out.write(b)
    }
    def str(field: Int, s: String): Unit = if (s.nonEmpty) bytes(field, s.getBytes(UTF_8))
    def f32(field: Int, v: Double): Unit = {
      tag(field, 5)
      val b = java.lang.Float.floatToIntBits(v.toFloat)
      out.write(b & 0xff); out.write(b >>> 8 & 0xff)
      out.write(b >>> 16 & 0xff); out.write(b >>> 24 & 0xff)
    }
    def msg(field: Int)(body: Buf => Unit): Unit = {
      val m = new Buf; body(m); bytes(field, m.out.toByteArray)
    }
  }

  private def compoundId(b: Buf, id: CompoundId): Unit = {
    b.int(1, id.itype); b.str(3, id.value)
  }

  private def reaction(b: Buf, r: OrdReaction): Unit = {
    r.identifiers.foreach(i => b.msg(1) { m =>
      m.int(1, i.itype); m.str(3, i.value); m.bool(4, i.isMapped)
    })
    r.inputs.foreach(e => b.msg(2) { m =>
      m.str(1, e.key)
      m.msg(2)(ri => e.components.foreach(c => ri.msg(1) { cm =>
        c.ids.foreach(id => cm.msg(1)(compoundId(_, id)))
        cm.int(3, c.role)
      }))
    })
    if (r.tempValue.isDefined || r.tempControl != 0)
      b.msg(4)(c => c.msg(1) { t =>
        if (r.tempControl != 0) t.msg(1)(_.int(1, r.tempControl))
        r.tempValue.foreach(v => t.msg(2) { sp => sp.f32(1, v); sp.int(3, r.tempUnits) })
      })
    r.procedureDetails.foreach(p => b.msg(5)(_.str(9, p)))
    if (r.products.nonEmpty || r.timeValue.isDefined)
      b.msg(8) { o =>
        r.timeValue.foreach(v => o.msg(1) { t => t.f32(1, v); t.int(3, r.timeUnits) })
        r.products.foreach(p => o.msg(3) { pm =>
          p.ids.foreach(id => pm.msg(1)(compoundId(_, id)))
          p.yieldPct.foreach(y => pm.msg(3) { meas =>
            meas.int(2, 3) // type 3 = YIELD
            meas.msg(8)(_.f32(1, y))
          })
        })
      }
    r.experimentStart.foreach(s => b.msg(9)(_.msg(3)(_.str(1, s))))
  }

  /** One uncompressed `Dataset` message holding `reactions`. */
  def encodeDataset(name: String, datasetId: String,
      reactions: Seq[OrdReaction]): Array[Byte] = {
    val b = new Buf
    b.str(1, name)
    reactions.foreach(r => b.msg(3)(reaction(_, r)))
    b.str(10, datasetId)
    b.out.toByteArray
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write(bytes); z.close()
    out.toByteArray
  }
}
