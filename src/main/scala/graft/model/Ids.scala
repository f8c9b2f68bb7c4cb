package graft.model

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Deterministic content-derived ids — RFC 4122 version-3 (MD5) UUIDs,
  * byte-compatible with Python's `uuid.uuid3(uuid.NAMESPACE_DNS, s)` as
  * used by the reference (dd_core/utils/identifier.py:53-77,
  * dd_core/datapoint/annotation.py:354-376). Content-derived ids make
  * outputs reproducible across runs and cluster sizes.
  */
object Ids {
  // uuid.NAMESPACE_DNS = 6ba7b810-9dad-11d1-80b4-00c04fd430c8
  private val NamespaceDns: Array[Byte] = Array(
    0x6b, 0xa7, 0xb8, 0x10, 0x9d, 0xad, 0x11, 0xd1,
    0x80, 0xb4, 0x00, 0xc0, 0x4f, 0xd4, 0x30, 0xc8
  ).map(_.toByte)

  private val mdPool: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** identifier.py:53 `get_uuid_from_str`. */
  def uuid3(s: String): String = {
    val md = mdPool.get()
    md.reset()
    md.update(NamespaceDns)
    md.update(s.getBytes(StandardCharsets.UTF_8))
    uuidString(md, new Array[Byte](36))
  }

  private val Hex: Array[Byte] = "0123456789abcdef".getBytes(StandardCharsets.ISO_8859_1)

  /** identifier.py:66 `get_uuid` — uuid3 of concatenated inputs. */
  def uuid3(inputs: String*): String = uuid3(inputs.mkString(""))

  /** Finish `md` into the version-3 UUID string. `out` (36 bytes) holds
    * the digest in its first 16 bytes, then the hex text; the String is
    * one ISO-8859-1 copy of it.
    */
  private def uuidString(md: MessageDigest, out: Array[Byte]): String = {
    md.digest(out, 0, 16)
    out(6) = ((out(6) & 0x0f) | 0x30).toByte // version 3
    out(8) = ((out(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    // hex digits are written back to front, so each digest byte is
    // read before its slot is overwritten (byte i lands at 2i..2i+4)
    var i = 15
    var p = 36
    while (i >= 0) {
      val v = out(i) & 0xff
      p -= 2
      out(p) = Hex(v >>> 4); out(p + 1) = Hex(v & 0xf)
      if (i == 4 || i == 6 || i == 8 || i == 10) { p -= 1; out(p) = '-' }
      i -= 1
    }
    new String(out, 0, 36, StandardCharsets.ISO_8859_1)
  }

  /** Per-turn annotation-id factory: hoists the namespace + turnId
    * bytes and the digest instance out of the per-word loop, and
    * streams `kind + begin + "_" + end` into the digest without
    * building the concatenated string. UTF-8 of a concatenation equals
    * the concatenation of UTF-8, so ids are byte-identical to
    * [[annId]] (IdsSpec pins the CPython vectors).
    * It borrows the calling thread's digest: use a builder on the
    * thread that made it.
    */
  final class AnnIdBuilder(turnId: String) {
    private val md = mdPool.get()
    // the whole message is assembled into ONE reusable buffer and fed
    // to the digest in a single update: the previous per-piece updates
    // (namespace, turnId, kind, digits, '_', digits — six engineUpdate
    // calls of a few bytes each) spent more time in the digest's
    // buffer management than in the compression itself (measured).
    // Bytes are identical — UTF-8 of a concatenation IS the
    // concatenation of UTF-8 (IdsSpec pins the CPython vectors).
    private var buf: Array[Byte] = _
    private val prefixLen: Int = {
      val t = turnId.getBytes(StandardCharsets.UTF_8)
      buf = new Array[Byte](16 + t.length + 64)
      System.arraycopy(NamespaceDns, 0, buf, 0, 16)
      System.arraycopy(t, 0, buf, 16, t.length)
      16 + t.length
    }
    private val out = new Array[Byte](36)

    private def ensure(n: Int): Unit =
      if (n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(n, buf.length * 2))

    /** Append v's decimal digits at `at`; returns the new end offset. */
    private def putInt(v: Int, at: Int): Int = {
      // widen before negating: -Int.MinValue overflows back to itself,
      // which would skip the digit loop and emit only "-"
      var x = v.toLong
      var p = at
      if (x == 0) { buf(p) = '0'; return p + 1 }
      val neg = x < 0
      if (neg) { buf(p) = '-'; p += 1; x = -x }
      val start = p
      while (x > 0) { buf(p) = ('0' + x % 10).toByte; p += 1; x /= 10 }
      // digits were emitted lowest-first — reverse in place
      var lo = start
      var hi = p - 1
      while (lo < hi) {
        val t = buf(lo); buf(lo) = buf(hi); buf(hi) = t
        lo += 1; hi -= 1
      }
      p
    }

    // the last kind's UTF-8 bytes: a turn asks for its ids kind by
    // kind (blocks, then every word, then lines), so one entry hits
    private var lastKind: String = _
    private var lastKindBytes: Array[Byte] = _

    def annId(kind: String, begin: Int, end: Int): String = {
      if (!(kind eq lastKind)) { lastKind = kind; lastKindBytes = kind.getBytes(StandardCharsets.UTF_8) }
      val kb = lastKindBytes
      ensure(prefixLen + kb.length + 23) // 2×(sign+10 digits) + '_'
      var p = prefixLen
      System.arraycopy(kb, 0, buf, p, kb.length)
      p += kb.length
      p = putInt(begin, p)
      buf(p) = '_'
      p = putInt(end, p + 1)
      md.reset()
      md.update(buf, 0, p)
      uuidString(md, out)
    }
  }

  /** image.py:373-388 analogue: stable id of one turn. */
  def turnId(convId: String, turnIdx: Int): String = uuid3(convId + "#" + turnIdx)

  /** annotation.py:354-376 analogue: block/word id from defining
    * attributes + container context.
    */
  def annId(turnId: String, kind: String, begin: Int, end: Int): String =
    uuid3(turnId + kind + begin + "_" + end)
}
