package graft.etl

import java.io.RandomAccessFile
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Durable event sink: JSON-lines per shard on a filesystem — the local
  * stand-in for a Kinesis→S3 delivery stream. Each line is
  * `{"seq":n,"partitionKey":pk,"arrivalTs":ms,"envelope":...}`; per-shard
  * append order IS the shard order (same contract as ShardedEventSink), and
  * seqs number the appends in order across all shards.
  *
  * Restart: a new instance over the same directory resumes seq numbering
  * from the last complete line of each shard (the maximum over shards, plus
  * one), read from the end of each file, so opening costs O(tail), not
  * O(stream). A crash mid-append can leave an unterminated last line; that
  * record was never acknowledged, so before its first append an instance
  * cuts each shard back to its last newline and the at-least-once replay
  * re-emits the record. Opening modifies nothing, so a read-only instance
  * over an idle directory is safe. An instance is the single writer of its
  * directory: two writers would interleave seqs and cut each other's tails.
  */
final class FileEventSink(dir: String, val shards: Int = 1) extends EventSink {
  require(shards > 0)
  private val root: Path = Paths.get(dir)

  private def shardFile(i: Int): Path = root.resolve(f"shard-$i%05d.jsonl")
  private def shardOf(pk: String): Int = math.floorMod(pk.hashCode, shards)

  private val lineRe =
    """\{"seq":(\d+),"partitionKey":"((?:[^"\\]|\\.)*)","arrivalTs":(\d+),"envelope":"((?:[^"\\]|\\.)*)"\}""".r

  /** Offset just past the last `\n` before `end` in `f` (0: none), found by
    * a backward block scan.
    */
  private def lineStart(f: RandomAccessFile, end: Long): Long = {
    val buf = new Array[Byte](8192)
    var hi = end
    while (hi > 0) {
      val lo = math.max(0L, hi - buf.length)
      f.seek(lo)
      f.readFully(buf, 0, (hi - lo).toInt)
      val i = buf.lastIndexOf('\n'.toByte, (hi - lo - 1).toInt)
      if (i >= 0) return lo + i + 1
      hi = lo
    }
    0L
  }

  /** A shard's length without its torn tail, and the seq of its last
    * complete line (-1: none).
    */
  private def tail(p: Path): (Long, Long) = {
    val f = new RandomAccessFile(p.toFile, "r")
    try {
      val keep = lineStart(f, f.length)
      if (keep == 0) (0L, -1L)
      else {
        val start = lineStart(f, keep - 1)
        val bytes = new Array[Byte]((keep - 1 - start).toInt)
        f.seek(start)
        f.readFully(bytes)
        new String(bytes, StandardCharsets.UTF_8) match {
          case lineRe(s, _, _, _) => (keep, s.toLong)
          case _ => throw new IllegalStateException(s"$p: its last complete line is not an event record")
        }
      }
    } finally f.close()
  }

  private def existingShards: Seq[Path] = (0 until shards).map(shardFile).filter(Files.exists(_))

  private var seq: Long = (-1L +: existingShards.map(tail(_)._2)).max + 1
  private var tailsCut = false

  override def append(events: Seq[(String, String)]): Unit = synchronized {
    if (!tailsCut) {
      Files.createDirectories(root)
      existingShards.foreach { p =>
        val ch = FileChannel.open(p, StandardOpenOption.WRITE)
        try ch.truncate(tail(p)._1) finally ch.close()
      }
      tailsCut = true
    }
    val now = System.currentTimeMillis()
    // number in append order, then route each line to its key's shard
    val byShard = Array.fill(shards)(new StringBuilder)
    events.foreach { case (pk, env) =>
      byShard(shardOf(pk))
        .append(s"""{"seq":$seq,"partitionKey":"${Envelope.escape(pk)}","arrivalTs":$now,"envelope":"${Envelope.escape(env)}"}""")
        .append('\n')
      seq += 1
    }
    byShard.indices.filter(byShard(_).nonEmpty).foreach { s =>
      Files.write(shardFile(s), byShard(s).toString.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Char-wise unescape (naive chained replace would corrupt `\\n`). */
  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => sb += '"'; i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n'  => sb += '\n'; i += 2
          case 'r'  => sb += '\r'; i += 2
          case 't'  => sb += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Every record, in seq order. Only an unterminated final line (a torn
    * write no instance has cut yet) is skipped; any other line that is not
    * an event record fails the read, naming the shard file and line number.
    */
  override def all: Seq[EventRecord] = synchronized {
    (0 until shards).flatMap { i =>
      val f = shardFile(i)
      if (!Files.exists(f)) Seq.empty
      else {
        val text = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        // the last split is what follows the last \n: empty, or a torn write
        val lines = text.split("\n", -1).toIndexedSeq.dropRight(1)
        lines.indices.map { n =>
          lines(n) match {
            case lineRe(s, pk, ts, env) => EventRecord(s.toLong, unesc(pk), unesc(env), ts.toLong)
            case _ => throw new IllegalStateException(s"$f line ${n + 1} is not an event record")
          }
        }
      }
    }.sortBy(_.seqNo)
  }
}
