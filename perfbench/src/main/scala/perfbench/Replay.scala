package perfbench

import graft.decode.Pcap

/** The flow mix the ingest generator replays: the bundled reference
  * captures grouped into families, each family a template set (sent once
  * per exporter before any data) and one data datagram. Every family gets
  * its own observation domain so the families' template ids cannot collide
  * inside one exporter's template state.
  */
object Replay {

  final case class Family(id: Int, version: Int, templates: Seq[Array[Byte]],
      data: Array[Byte])

  private def capture(name: String): Array[Byte] = {
    val ds = Pcap.datagrams(Pcap.readResource(s"/graft/pcap/$name.pcap"))
    require(ds.size == 1, s"$name: expected one datagram, found ${ds.size}")
    ds.head.payload
  }

  /** NetFlow v5, three NetFlow v9 exporters' shapes (options sampling,
    * template sampling field, several sampling rates) and IPFIX. The IPFIX
    * capture carries no sampling rate, so its flows are dropped and counted
    * by the enrichment's validation.
    */
  lazy val families: Seq[Family] = Seq(
    Family(0, 5, Nil, capture("nfv5")),
    Family(1, 9, Seq("options-template", "options-data", "template").map(capture),
      capture("data")),
    Family(2, 9, Seq(capture("samplingrate-template")), capture("samplingrate-data")),
    Family(3, 9, Seq("multiplesamplingrates-options-template",
      "multiplesamplingrates-options-data", "multiplesamplingrates-template")
      .map(capture), capture("multiplesamplingrates-data")),
    Family(4, 10, Seq(capture("ipfixprobe-templates")), capture("ipfixprobe-data")))

  private def put32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** A copy of `payload` with its header's export time, sequence number
    * and (v9/IPFIX) observation domain rewritten.
    */
  def rewrite(payload: Array[Byte], family: Family, unixSecs: Long,
      sequence: Long): Array[Byte] = {
    val b = payload.clone()
    family.version match {
      case 5 =>
        put32(b, 8, unixSecs); put32(b, 12, 0L); put32(b, 16, sequence)
      case 9 =>
        put32(b, 8, unixSecs); put32(b, 12, sequence); put32(b, 16, 100L + family.id)
      case 10 =>
        put32(b, 4, unixSecs); put32(b, 8, sequence); put32(b, 12, 100L + family.id)
    }
    b
  }

  /** What one data datagram of a family decodes to, from a reference
    * decode of the family's templates then its data: flow count, flows with
    * a sampling rate (the ones validation keeps), and the interface
    * indexes the flows name.
    */
  final case class Decoded(flows: Int, sampled: Int, interfaces: Set[Long])

  lazy val decoded: Map[Int, Decoded] = families.map { f =>
    import graft.decode._
    val src = Addr.to16(Array[Byte](127, 0, 0, 2))
    val opts = DecodeOptions(DecodeOptions.TsNetflowPacket)
    val st = (f.templates.zipWithIndex).foldLeft(TemplateState.empty) {
      case (s, (t, i)) =>
        NetflowDecoder.decode(rewrite(t, f, 0L, i.toLong), src, 0L, opts, s).state
    }
    val r = NetflowDecoder.decode(rewrite(f.data, f, 0L, 0L), src, 0L, opts, st)
    require(r.error.isEmpty && !r.templatesMissing,
      s"family ${f.id} does not decode: ${r.error}")
    f.id -> Decoded(r.flows.size, r.flows.count(_.SamplingRate > 0),
      r.flows.flatMap(x => Seq(x.InIf, x.OutIf)).filter(_ > 0).toSet)
  }.toMap

  /** Data-family order for exporter `exporter`: a seeded permutation of
    * every family, repeated.
    */
  def cycle(seed: Long, exporter: Int): Seq[Family] =
    new scala.util.Random(seed * 7919L + exporter).shuffle(families)

  /** Sender address of exporter `k`: distinct loopback addresses, so the
    * source keys each exporter separately.
    */
  def senderAddress(k: Int): java.net.InetAddress =
    java.net.InetAddress.getByAddress(Array[Byte](127, 0, 0, (2 + k).toByte))

  /** First sequence number of exporter `k`, family `f`. */
  def firstSequence(seed: Long, k: Int, f: Int): Long =
    new scala.util.Random(seed * 31L + k * 8L + f).nextInt(1 << 20).toLong
}
