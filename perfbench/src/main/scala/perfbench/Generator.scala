package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.DatagramChannel
import java.util.concurrent.locks.LockSupport

/** The ingest workload's open-loop load generator, run as its own process
  * so its CPU stays out of the measured process. It replays the data
  * datagrams of [[Replay.families]] at a fixed offered flow rate, round
  * robin over `exporters` sockets bound to distinct loopback addresses,
  * and never slows down when the receiver does: datagram `i` is due at
  * `startMs + 1000 * flowsBefore(i) / rate` whatever happened before it.
  *
  * Arguments: `port exporters rate startMs stopMs seed logPath`.
  *
  * The log holds one record per datagram sent, in send order: due time and
  * actual send time (epoch ms, doubles), exporter, family, flow count.
  */
object Generator {

  final case class Sent(dueMs: Double, sentMs: Double, exporter: Int,
      family: Int, flows: Int)

  def main(args: Array[String]): Unit = {
    val Array(port, exporters, rate, startMs, stopMs, seed, logPath) = args
    run(port.toInt, exporters.toInt, rate.toDouble, startMs.toDouble,
      stopMs.toDouble, seed.toLong, logPath)
  }

  def run(port: Int, exporters: Int, rate: Double, startMs: Double,
      stopMs: Double, seed: Long, logPath: String): Unit = {
    val baseEpoch = System.currentTimeMillis().toDouble
    val baseNanos = System.nanoTime()
    def nowMs(): Double = baseEpoch + (System.nanoTime() - baseNanos) / 1e6
    val target = new InetSocketAddress("127.0.0.1", port)
    val channels = (0 until exporters).map { k =>
      val ch = DatagramChannel.open()
      ch.bind(new InetSocketAddress(Replay.senderAddress(k), 0))
      ch
    }
    Replay.decoded // decode the reference families before the first send is due
    val cycles = (0 until exporters).map(k => Replay.cycle(seed, k))
    val sequences = Array.tabulate(exporters, Replay.families.size)(
      (k, f) => Replay.firstSequence(seed, k, f))
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(logPath), 1 << 16))
    try {
      var i = 0L
      var flowsBefore = 0L
      var done = false
      while (!done) {
        val due = startMs + 1000.0 * flowsBefore / rate
        if (due >= stopMs) done = true
        else {
          val k = (i % exporters).toInt
          val cycle = cycles(k)
          val fam = cycle(((i / exporters) % cycle.size).toInt)
          val flows = Replay.decoded(fam.id).flows
          val payload = Replay.rewrite(fam.data, fam, (due / 1000.0).toLong,
            sequences(k)(fam.id))
          sequences(k)(fam.id) += (if (fam.version == 9) 1L else flows.toLong)
          var wait = due - nowMs()
          while (wait > 0) {
            LockSupport.parkNanos((wait * 1e6).toLong.min(2000000L))
            wait = due - nowMs()
          }
          val sent = nowMs()
          channels(k).send(ByteBuffer.wrap(payload), target)
          out.writeDouble(due); out.writeDouble(sent)
          out.writeInt(k); out.writeInt(fam.id); out.writeInt(flows)
          i += 1
          flowsBefore += flows
        }
      }
    } finally {
      out.close()
      channels.foreach(_.close())
    }
  }

  def readLog(path: String): IndexedSeq[Sent] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(path), 1 << 16))
    try {
      val buf = IndexedSeq.newBuilder[Sent]
      while (in.available() > 0)
        buf += Sent(in.readDouble(), in.readDouble(), in.readInt(), in.readInt(),
          in.readInt())
      buf.result()
    } finally in.close()
  }
}
