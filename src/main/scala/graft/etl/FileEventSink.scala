package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Durable event sink: JSON-lines per shard on a filesystem — the local
  * stand-in for a Kinesis→S3 delivery stream. Each line is
  * `{"seq":n,"partitionKey":pk,"arrivalTs":ms,"envelope":...}`; per-shard
  * append order IS the shard order (same contract as ShardedEventSink), and a
  * new instance over the same directory resumes seq numbering from what's on
  * disk — restart-safe like the rest of the pipeline.
  */
final class FileEventSink(dir: String, val shards: Int = 1) extends EventSink {
  require(shards > 0)
  private val root: Path = Paths.get(dir)
  Files.createDirectories(root)

  private def shardFile(i: Int): Path = root.resolve(f"shard-$i%05d.jsonl")
  private def shardOf(pk: String): Int = math.floorMod(pk.hashCode, shards)

  private var seq: Long = all.map(_.seqNo + 1).maxOption.getOrElse(0L)

  override def append(events: Seq[(String, String)]): Unit = synchronized {
    val now = System.currentTimeMillis()
    events.groupBy { case (pk, _) => shardOf(pk) }.foreach { case (s, evs) =>
      val lines = evs.map { case (pk, env) =>
        val line =
          s"""{"seq":$seq,"partitionKey":"${Envelope.escape(pk)}","arrivalTs":$now,"envelope":"${Envelope.escape(env)}"}"""
        seq += 1
        line
      }
      Files.write(shardFile(s), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  // lazy: `seq` initialization calls all() before later fields construct
  private lazy val lineRe =
    """\{"seq":(\d+),"partitionKey":"((?:[^"\\]|\\.)*)","arrivalTs":(\d+),"envelope":"((?:[^"\\]|\\.)*)"\}""".r

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

  override def all: Seq[EventRecord] = synchronized {
    (0 until shards).flatMap { i =>
      val f = shardFile(i)
      if (!Files.exists(f)) Seq.empty
      else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq.collect {
        case lineRe(s, pk, ts, env) =>
          EventRecord(s.toLong, unesc(pk), unesc(env), ts.toLong)
      }
    }.sortBy(_.seqNo)
  }
}
