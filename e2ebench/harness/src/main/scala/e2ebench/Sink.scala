package e2ebench

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8

import graft.pipeline.KinesisSink

/** Reads back the Kinesis-semantics sink's directory stream
  * (`shard=<n>/<tag>.krf` files of length-prefixed records) and checks the
  * routing contract record by record. */
object Sink {

  final case class Record(shard: Int, tag: String, pk: String, data: Array[Byte])

  def files(streamDir: File): Seq[(Int, File)] =
    Option(streamDir.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
      .flatMap { d =>
        val shard = d.getName.stripPrefix("shard=").toInt
        Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".krf")).map(shard -> _)
      }

  def foreach(streamDir: File)(f: Record => Unit): Unit =
    files(streamDir).foreach { case (shard, file) =>
      val tag = file.getName.stripSuffix(".krf")
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file), 1 << 20))
      try {
        var more = true
        while (more) {
          val pkLen = try in.readInt() catch { case _: EOFException => -1 }
          if (pkLen < 0) more = false
          else {
            val pk = new Array[Byte](pkLen); in.readFully(pk)
            val data = new Array[Byte](in.readInt()); in.readFully(data)
            f(Record(shard, tag, new String(pk, UTF_8), data))
          }
        }
      } finally in.close()
    }

  /** The integer value of the first field of a JSON object (`{"id":123,...`). */
  def leadingId(data: Array[Byte]): Long = {
    var i = 0
    while (data(i) != ':') i += 1
    i += 1
    var v = 0L
    while (data(i) >= '0' && data(i) <= '9') { v = v * 10 + (data(i) - '0'); i += 1 }
    v
  }

  /** Totals over a stream directory, for the sink's layer metrics. */
  final case class Totals(records: Long, bytes: Long, files: Int, shardSkew: Double)

  /** Check every record of `streamDir`: its id is expected and delivered
    * exactly once, it sits in the shard `KinesisSink.shardFor` predicts, and
    * it is within the 1 MiB record limit. Returns the failure count per
    * kind and the totals. */
  def audit(streamDir: File, numShards: Int, expected: java.util.BitSet)
      : (Map[String, Long], Totals) = {
    val seen = new java.util.BitSet(expected.length())
    var dup, unexpected, misrouted, oversize, records, bytes = 0L
    val perShard = new Array[Long](numShards)
    foreach(streamDir) { rec =>
      val id = leadingId(rec.data)
      val size = rec.data.length + rec.pk.getBytes(UTF_8).length
      records += 1
      bytes += size
      perShard(rec.shard) += 1
      if (id > Int.MaxValue || !expected.get(id.toInt)) unexpected += 1
      else if (seen.get(id.toInt)) dup += 1
      else seen.set(id.toInt)
      if (KinesisSink.shardFor(rec.pk, numShards) != rec.shard) misrouted += 1
      if (size > KinesisSink.MaxBytesPerRecord) oversize += 1
    }
    val missing = expected.cardinality().toLong - seen.cardinality()
    val mean = perShard.sum.toDouble / numShards
    (Map("missing" -> missing, "duplicated" -> dup, "unexpected" -> unexpected,
      "misrouted" -> misrouted, "oversize" -> oversize),
      Totals(records, bytes, files(streamDir).size,
        if (mean > 0) perShard.max / mean else 0.0))
  }
}
