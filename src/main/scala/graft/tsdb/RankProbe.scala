package graft.tsdb

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import java.util.Base64

/** Segment-native transport for the federated rank search's probe and
  * fetch rounds (`INCLUDE MERGE` exact percentiles).
  *
  * The generic rounds ship plain SQL (per-bin count/min/max over the
  * statement's FROM/WHERE joined to a VALUES relation), which every
  * endpoint answers by RE-GRIDDING its segments — a full reconstruction
  * per round. When the statement's shape allows it (FROM is a bare time
  * series table, WHERE is time/tag-only, the percentile child is a stored
  * field, group keys are tags), the rounds ship THIS statement instead:
  * `GRAFT SEGMENT PROBE <base64>`, a self-contained description of the
  * pruned segment slice plus the per-state thresholds. The endpoint
  * answers it with ONE kernel pass over segment metadata
  * ([[SegmentCountAboveMulti]] / [[SegmentValuesInRange]]): interior
  * segments (bounds fully above/below every threshold) settle from
  * min/max metadata with zero decode, so a probe round costs O(boundary
  * segments), not a full grid — the reference's segment-skipping
  * economics (modelardb_storage parquet pruning) applied to the
  * interactive federation rounds.
  *
  * A request carries ONE Target per percentile child (the targets differ
  * only in the probed field; each state names its child by index), so a
  * multi-field statement ships ONE statement per chunk per round — the
  * endpoint runs one kernel pass per field over that field's segment
  * slice and unions the per-state rows. `fetchLimit` > 0 bounds a fetch
  * response to that many (value, count) rows PER STATE per endpoint
  * (ascending value order): the merge detects the truncation and
  * paginates — the forced-fetch safety valve at the round cap stays
  * wire-bounded even over an interval holding many distinct values.
  *
  * The payload is a versioned binary frame (DataOutputStream primitives,
  * Base64-armored into the statement text): endpoints of this library
  * decode it exactly; strings are length-prefixed UTF-8, so arbitrary tag
  * content survives independent of any SQL parser configuration. The
  * response is (__sid, __c1…) cumulative counts for probes and
  * (__sid, __v, __c) for fetches; the merge reads both as bins — the
  * threshold intervals (t₍ₘ₋₁₎, t₍ₘ₎] and one-value [v, v] — through the
  * same bracket update as the generic rounds' bins.
  */
object RankProbe {

  val Prefix = "GRAFT SEGMENT PROBE "
  private val Version = 2

  /** The per-child statement-constant part: which segment slice to probe.
    * `keyTags` is the GROUP BY tag list in grouping order — state keys
    * align to it (identical across a request's targets).
    */
  final case class Target(
      table: String, field: String,
      startUs: Option[Long], endUs: Option[Long],
      tagEq: Map[String, String], tagIn: Map[String, Seq[String]],
      keyTags: Seq[String])

  /** One rank state's slice of a round: which target it probes (`cix`
    * indexes `Request.targets`), its group-key values (aligned to
    * `Target.keyTags`, null allowed) and either `nT` probe thresholds or
    * the (lo, hi] fetch interval in `xs`.
    */
  final case class State(
      sid: Int, cix: Int, keys: Array[String], xs: Array[Double])

  final case class Request(
      targets: IndexedSeq[Target], fetch: Boolean, nT: Int,
      fetchLimit: Long, states: Seq[State])

  def render(req: Request): String =
    Prefix + Base64.getEncoder.encodeToString(encode(req))

  /** Whether `sqlText` is a segment-probe statement (the dispatch test —
    * cheap, no decode).
    */
  def matches(sqlText: String): Boolean = sqlText.startsWith(Prefix)

  def decode(sqlText: String): Request = {
    require(matches(sqlText), "not a GRAFT SEGMENT PROBE statement")
    val in = new DataInputStream(new ByteArrayInputStream(
      Base64.getDecoder.decode(sqlText.substring(Prefix.length).trim)))
    val v = in.readInt()
    require(v == Version,
      s"GRAFT SEGMENT PROBE version $v (this endpoint speaks $Version); " +
        "mixed-version federations must use matching libraries")
    def readOptLong(): Option[Long] =
      if (in.readBoolean()) Some(in.readLong()) else None
    def readStr(): String = {
      val n = in.readInt()
      if (n < 0) null
      else {
        val b = new Array[Byte](n)
        in.readFully(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      }
    }
    def readTarget(): Target = {
      val table = readStr()
      val field = readStr()
      val startUs = readOptLong()
      val endUs = readOptLong()
      val tagEq = (0 until in.readInt()).map(_ => (readStr(), readStr())).toMap
      val tagIn = (0 until in.readInt()).map { _ =>
        val t = readStr()
        (t, (0 until in.readInt()).map(_ => readStr()))
      }.toMap
      val keyTags = (0 until in.readInt()).map(_ => readStr())
      Target(table, field, startUs, endUs, tagEq, tagIn, keyTags)
    }
    val targets = IndexedSeq.fill(in.readInt())(readTarget())
    val nKeys = if (targets.isEmpty) 0 else targets.head.keyTags.size
    val fetch = in.readBoolean()
    val nT = in.readInt()
    val fetchLimit = in.readLong()
    val width = if (fetch) 2 else nT
    val states = (0 until in.readInt()).map { _ =>
      val sid = in.readInt()
      val cix = in.readInt()
      val keys = Array.fill(nKeys)(readStr())
      val xs = Array.fill(width)(in.readDouble())
      State(sid, cix, keys, xs)
    }
    Request(targets, fetch, nT, fetchLimit, states)
  }

  private def encode(req: Request): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(Version)
    def writeOptLong(v: Option[Long]): Unit = {
      out.writeBoolean(v.isDefined); v.foreach(out.writeLong)
    }
    def writeStr(s: String): Unit =
      if (s == null) out.writeInt(-1)
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      }
    require(req.targets.nonEmpty, "a probe request names at least one target")
    val nKeys = req.targets.head.keyTags.size
    require(req.targets.forall(_.keyTags.size == nKeys),
      "targets must share the statement's group-key tags")
    out.writeInt(req.targets.size)
    req.targets.foreach { t =>
      writeStr(t.table)
      writeStr(t.field)
      writeOptLong(t.startUs)
      writeOptLong(t.endUs)
      out.writeInt(t.tagEq.size)
      t.tagEq.toSeq.sortBy(_._1).foreach { case (k, v) =>
        writeStr(k); writeStr(v)
      }
      out.writeInt(t.tagIn.size)
      t.tagIn.toSeq.sortBy(_._1).foreach { case (k, vs) =>
        writeStr(k); out.writeInt(vs.size); vs.foreach(writeStr)
      }
      out.writeInt(t.keyTags.size)
      t.keyTags.foreach(writeStr)
    }
    out.writeBoolean(req.fetch)
    out.writeInt(req.nT)
    out.writeLong(req.fetchLimit)
    val width = if (req.fetch) 2 else req.nT
    out.writeInt(req.states.size)
    req.states.foreach { s =>
      require(s.keys.length == nKeys && s.xs.length == width &&
        s.cix >= 0 && s.cix < req.targets.size, "malformed probe state")
      out.writeInt(s.sid)
      out.writeInt(s.cix)
      s.keys.foreach(writeStr)
      s.xs.foreach(out.writeDouble)
    }
    out.flush()
    bytes.toByteArray
  }
}
