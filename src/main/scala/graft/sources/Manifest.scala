package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** One directory of a [[Part]]: its name under the state root and the
  * data files it holds. */
private[sources] final case class Segment(dir: String, files: Seq[String])

/** One logical table of a derived state: a schema over the files of one
  * or more segments. */
private[sources] final case class Part(schema: StructType, segments: Seq[Segment]) {
  def ++(more: Part): Part = copy(segments = segments ++ more.segments)
}

/** One committed version of a derived state: its family (which verbs
  * own it), the high-water mark of the batch ids applied to it, its
  * parts and the family's metadata. Exactly-once is one monotone rule
  * for every family: a batch id at or below the mark is applied. */
private[sources] final case class Manifest(family: String, mark: Option[Long],
    parts: Map[String, Part], meta: Map[String, String] = Map.empty) {
  def applied(batchId: Long): Boolean = mark.exists(batchId <= _)
}

/** The one commit protocol of `Catalog`'s derived state — immutable
  * data directories plus numbered manifests, the Delta Lake log design
  * (Armbrust et al., VLDB 2020) without its action replay. A state at
  * `root` keeps its data in directories that are written once and never
  * rewritten; `root/_manifest/<N>` lists each part's schema and live
  * files.
  *
  * A commit writes manifest N+1 aside and renames it into place, so
  * after a crash at any step either N or N+1 is the highest readable
  * manifest; it then deletes manifest N and every directory N+1 no
  * longer lists. A read takes the highest manifest and builds each part
  * from its stored schema and listed files: it lists no data directory,
  * infers no schema and writes nothing. Reads and writes of one state
  * are serialized by the caller, as every Catalog verb requires. */
private[sources] final class StateDir(spark: SparkSession, root: Path) {
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val log = new Path(root, StateDir.Log)

  private lazy val head: Option[(Long, Manifest)] =
    if (!fs.exists(log)) None
    else fs.listStatus(log).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).maxOption
      .map { n =>
        val in = fs.open(new Path(log, n))
        try n.toLong -> StateDir.parse(new String(in.readAllBytes(), UTF_8))
        finally in.close()
      }

  /** The highest committed manifest, read once per instance. */
  def latest: Option[Manifest] = head.map(_._2)

  /** The version the next [[commit]] publishes; a commit's fresh
    * directories carry it in their names. */
  def next: Long = head.fold(1L)(_._1 + 1)

  def read(part: Part): DataFrame =
    spark.read.schema(part.schema).parquet(part.segments.flatMap(s =>
      s.files.map(f => new Path(new Path(root, s.dir), f).toString)): _*)

  /** Write `df` into the directory `dir`, which no manifest lists (an
    * earlier attempt's leftovers there are replaced), and describe it. */
  def write(df: DataFrame, dir: String): Part = {
    val out = new Path(root, dir)
    df.write.mode(SaveMode.Overwrite).parquet(out.toString)
    val files = fs.listStatus(out).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    Part(df.schema, Seq(Segment(dir, files)))
  }

  /** Publish `m` as manifest [[next]], then delete what it no longer lists. */
  def commit(m: Manifest): Unit = {
    val name = f"$next%020d"
    val tmp = new Path(log, s"$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(StateDir.render(m).getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, new Path(log, name)))
      throw new java.io.IOException(s"manifest $name of $root did not commit")
    sweep(name, m)
  }

  /** Delete every manifest but the highest and every directory it does
    * not list. Returns the number of directories deleted. */
  def sweep(): Int = head.fold(0) { case (v, m) => sweep(f"$v%020d", m) }

  private def sweep(name: String, m: Manifest): Int = {
    fs.listStatus(log).map(_.getPath).filter(_.getName != name)
      .foreach(fs.delete(_, false))
    val live = m.parts.values.flatMap(_.segments.map(_.dir)).toSet + StateDir.Log
    val dead = fs.listStatus(root).map(_.getPath).filterNot(p => live(p.getName))
    dead.foreach(fs.delete(_, true))
    dead.length
  }
}

private[sources] object StateDir {
  val Log = "_manifest"

  // one line per fact, tab-separated: schemas are single-line JSON and
  // file names are Spark's part-file names
  private def render(m: Manifest): String = {
    val lines = Seq(Seq("family", m.family)) ++
      m.mark.map(x => Seq("mark", x.toString)) ++
      m.meta.toSeq.sorted.map { case (k, v) => Seq("meta", k, v) } ++
      m.parts.toSeq.sortBy(_._1).flatMap { case (name, p) =>
        Seq("part", name, p.schema.json) +:
          p.segments.map(s => Seq("segment", name, s.dir) ++ s.files)
      }
    lines.map(_.mkString("\t")).mkString("", "\n", "\n")
  }

  private def parse(text: String): Manifest =
    text.split("\n").iterator.filter(_.nonEmpty).map(_.split("\t").toList)
      .foldLeft(Manifest("", None, Map.empty)) {
        case (m, "family" :: f :: Nil) => m.copy(family = f)
        case (m, "mark" :: x :: Nil) => m.copy(mark = Some(x.toLong))
        case (m, "meta" :: k :: v :: Nil) => m.copy(meta = m.meta + (k -> v))
        case (m, "part" :: n :: json :: Nil) => m.copy(parts = m.parts +
          (n -> Part(DataType.fromJson(json).asInstanceOf[StructType], Nil)))
        case (m, "segment" :: n :: dir :: files) => m.copy(parts = m.parts +
          (n -> (m.parts(n) ++ Part(m.parts(n).schema, Seq(Segment(dir, files))))))
        case (_, line) => throw new java.io.IOException(
          s"unreadable manifest line: ${line.mkString(" ")}")
      }
}
