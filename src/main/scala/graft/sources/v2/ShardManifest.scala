package graft.sources.v2

import org.apache.hadoop.fs.Path

/**
 * THE parser/serializer for `_MANIFEST` (one `name\trows` line per
 * published shard) — shared by [[ShardSink]]'s commit merge and
 * [[ShardReader]]'s read path so the two sides of the format cannot
 * drift, and STRICT on both: a malformed line is an error at the point
 * it is first seen (the writer must never launder corruption into the
 * next generation of the manifest; the reader must never silently skip
 * a shard).
 *
 * Publication is atomic: [[ShardPublish.writeAtomic]] stages the new
 * manifest beside the old one and `FileContext.rename(OVERWRITE)`s it
 * into place — a crash mid-publish leaves the PREVIOUS manifest intact, so
 * previously committed shards can never be un-published by a torn
 * in-place rewrite (the same atomic-rename discipline the shard files
 * themselves use).
 */
private[v2] object ShardManifest {

  val FileName = "_MANIFEST"

  def parse(text: String, where: Path): Seq[(String, Long)] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val tab = line.indexOf('\t')
      require(tab > 0, s"malformed manifest line in $where: $line")
      val rows = try line.substring(tab + 1).toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"malformed manifest row count in $where: $line")
      }
      (line.substring(0, tab), rows)
    }.toSeq

  def serialize(entries: Seq[(String, Long)]): String =
    entries.map { case (name, rows) => s"$name\t$rows" }
      .mkString("", "\n", if (entries.isEmpty) "" else "\n")
}
