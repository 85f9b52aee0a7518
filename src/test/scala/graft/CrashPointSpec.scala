package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FilterFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Catalog

/** Test-only filesystem for crash-point enumeration: the local
  * filesystem under the `crash` scheme. It counts every mutating call
  * (`create`, `rename`, `delete`, `mkdirs`), apart by origin — the
  * Catalog's own calls, and Spark's writer (job setup, tasks, job
  * commit), told apart by a Spark frame on the calling stack — and
  * fails the armed call and every mutating call after it, as a process
  * that died at that step would. */
class CrashFs extends FilterFileSystem(new CrashFs.Local) {
  import CrashFs.step

  override def create(f: Path, p: FsPermission, overwrite: Boolean, buf: Int,
      rep: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    step("create", f); super.create(f, p, overwrite, buf, rep, block, prog)
  }
  override def create(f: Path, p: FsPermission, flags: EnumSet[CreateFlag],
      buf: Int, rep: Short, block: Long, prog: Progressable,
      opt: Options.ChecksumOpt): FSDataOutputStream = {
    step("create", f); super.create(f, p, flags, buf, rep, block, prog, opt)
  }
  override def createNonRecursive(f: Path, p: FsPermission,
      flags: EnumSet[CreateFlag], buf: Int, rep: Short, block: Long,
      prog: Progressable): FSDataOutputStream = {
    step("create", f); super.createNonRecursive(f, p, flags, buf, rep, block, prog)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, p: FsPermission): Boolean = {
    step("mkdirs", f); super.mkdirs(f, p)
  }
  override def mkdirs(f: Path): Boolean = {
    step("mkdirs", f); fs.mkdirs(f)
  }
}

object CrashFs {
  val scheme = "crash"

  final class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$scheme:///")
    override def getScheme: String = scheme
  }

  /** Where to fail: the `n`-th mutating call of one origin (`spark`),
    * counting only calls named `op` unless it is `"*"`. */
  final case class Point(spark: Boolean, n: Int, op: String = "*") {
    override def toString = s"${if (spark) "spark" else "catalog"} $op #$n"
  }

  private val counts = new ConcurrentHashMap[(Boolean, String), AtomicInteger]()
  @volatile private var armed: Option[Point] = None
  @volatile private var dead = false

  private def count(spark: Boolean, op: String): Int =
    counts.computeIfAbsent((spark, op), _ => new AtomicInteger).incrementAndGet()

  private[graft] def step(op: String, p: Path): Unit = {
    val spark = Thread.currentThread.getStackTrace
      .exists(_.getClassName.startsWith("org.apache.spark."))
    val any = count(spark, "*")
    val same = count(spark, op)
    if (dead || armed.exists(a => a.spark == spark &&
        a.n == (if (a.op == "*") any else if (a.op == op) same else -1))) {
      dead = true
      throw new java.io.IOException(s"injected crash at $op $p")
    }
  }

  /** Zero the counters and arm `at` (None: count only). */
  def arm(at: Option[Point]): Unit = {
    counts.clear(); dead = false; armed = at
  }

  /** Mutating calls since the last [[arm]], by origin and op. */
  def calls(spark: Boolean, op: String = "*"): Int =
    Option(counts.get((spark, op))).fold(0)(_.get)
}

/** Crash-point and replay enumeration over `Catalog`'s durable verbs.
  * Every write verb runs once to count its mutating filesystem calls,
  * then once per crash point from the same on-disk pre-state: a fresh
  * Catalog must then read exactly the pre-state or the post-state,
  * issuing no mutating call; a [[Catalog.vacuumDerived]] of that
  * on-disk state must leave each state as it read or at the
  * post-state; and a retry must reach the post-state exactly once.
  * Every call the Catalog makes itself is a crash point; of Spark's
  * writer calls, every [[sparkStride]]-th one is (the first included),
  * and so is its last `create`, the `_SUCCESS` marker of a write. */
class CrashPointSpec extends SparkSpec {
  import spark.implicits._

  private val sparkStride = 16

  locally {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CrashFs.scheme}.impl", classOf[CrashFs].getName)
    conf.setBoolean(s"fs.${CrashFs.scheme}.impl.disable.cache", true)
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private lazy val docs = local(Tables.documents(spark, sfDir)
    .where(col("doc_id") < 60).select(col("doc_id"), col("text")))
  private lazy val emb = local(Tables.embeddings(spark, sfDir)
    .where(col("vec_id") < 80))
  private lazy val ann = {
    val i = Similarity.buildIvfIndex(emb.where(col("vec_id") % 4 === 0), nCells = 2)
    Similarity.IvfIndex(local(i.assignments), local(i.centroids))
  }
  private lazy val annQ = {
    val i = Similarity.buildIvfIndexQ(emb.where(col("vec_id") % 4 === 0), nCells = 2)
    Similarity.IvfQIndex(local(i.assignments), local(i.centroids), local(i.scales))
  }
  private def vecs(b: Int) = emb.where(col("vec_id") % 4 === b)
  private def texts(b: Int) = docs.where(col("doc_id") % 4 === b)

  private val keys = Seq("k")
  private def agg(b: Long) = Seq(("a", b), (s"k$b", 1L)).toDF("k", "n")
  private def cdc(b: Long) =
    Seq(("a", 10 * b, if (b % 2 == 0) "d" else "u", b), (s"k$b", 10 * b, "u", b))
      .toDF("k", "seq", "op", "v")
  private def hashes(b: Long) =
    (0L until 6L).map(i => ("g", b * 1000 + i, (b * 7 + i).toDouble))
      .toDF("g", "h", "v")
  private def words(b: Long) = Seq((b.toInt, 1L << b), (0, 1L)).toDF("w", "b")
  private def scd(b: Long) =
    Seq(("a", 10 * b, "u", b), (s"k$b", 10 * b, "u", b), ("z", 10 * b + 1, "u", b))
      .toDF("k", "seq", "op", "v")
  private val dim = Seq(("a", "x"), ("k1", "y"), ("k2", "z")).toDF("k", "name")
  private def fact(b: Long) = Seq(("a", b), ("k1", 10 * b)).toDF("k", "v")

  /** The rows of `dfs`, as sorted JSON lines, from one Spark job. */
  private def rows(dfs: DataFrame*): Seq[String] =
    dfs.map(_.toJSON).reduce(_ union _).collect().sorted.toSeq

  /** A state as its readers see it, or `<absent>` when nothing is
    * committed under the name. */
  private def state(read: => Seq[String]): Seq[String] =
    try read catch { case _: IllegalArgumentException => Seq("<absent>") }

  private def textState(c: Catalog, n: String) = state {
    val i = c.loadTextIndex(n)
    rows(i.postings, i.dl, i.stats)
  }
  private def annState(c: Catalog, n: String) = state {
    val i = c.loadAnnIndex(n)
    rows(i.assignments, i.centroids)
  }
  private def annQState(c: Catalog, n: String) = state {
    val i = c.loadAnnIndexQ(n)
    rows(i.assignments, i.centroids, i.scales)
  }
  private def scdState(c: Catalog, n: String) =
    state(rows(c.scd2MvHistory(n, "seq", "op")))
  private def joinState(c: Catalog, n: String) = state(rows(c.readJoinMv(n)))
  private def snapState(c: Catalog, n: String) = state {
    val vs = c.snapshotVersions(n)
    require(vs.nonEmpty, s"no snapshots of $n")
    vs.flatMap(v => s"v$v" +: rows(c.readSnapshot(n, v)))
  }

  /** Directory names up to two levels under the derived dir. */
  private def layout(c: Catalog): Seq[String] = {
    val base = java.nio.file.Paths.get(new Path(c.derivedDir).toUri.getPath)
    val s = Files.walk(base, 2)
    try s.filter(Files.isDirectory(_)).map(p => base.relativize(p).toString)
      .toArray.map(_.toString).sorted.toSeq
    finally s.close()
  }

  /** One write verb: `setup` builds the pre-state, `run` is the verb
    * under test, `read` returns one view per state it touches. A verb
    * with no batch id that is not idempotent is retried only after a
    * crash that left the pre-state. A compaction changes no read
    * (`visible = false`), so its pre- and post-state are one. */
  private final case class Verb(name: String, setup: Catalog => Unit,
      run: Catalog => Unit, read: Catalog => Seq[Seq[String]],
      retryAfterCommit: Boolean = true, visible: Boolean = true)

  private def verbs: Seq[Verb] = Seq(
    Verb("refreshAggMv",
      c => c.refreshAggMv("mv", agg(1), keys, Some(1L)),
      c => c.refreshAggMv("mv", agg(2), keys, Some(2L)),
      c => Seq(state(rows(c.mvState("mv"))))),
    Verb("refreshCdcMv",
      c => c.refreshCdcMv("mv", cdc(1), "k", "seq", "op", Some(1L)),
      c => c.refreshCdcMv("mv", cdc(2), "k", "seq", "op", Some(2L)),
      c => Seq(state(rows(c.cdcState("mv", "op"))))),
    Verb("refreshKmvMv",
      c => c.refreshKmvMv("mv", hashes(1), Seq("g"), "h", 4, Some(1L)),
      c => c.refreshKmvMv("mv", hashes(0), Seq("g"), "h", 4, Some(2L)),
      c => Seq(state(rows(c.kmvMvEstimate("mv", Seq("g"), 4))))),
    Verb("refreshQsketchMv",
      c => c.refreshQsketchMv("mv", hashes(1), Seq("g"), "h", "v", 4, Some(1L)),
      c => c.refreshQsketchMv("mv", hashes(0), Seq("g"), "h", "v", 4, Some(2L)),
      c => Seq(state(rows(c.qsketchMvEstimate("mv", Seq("g"), 4))))),
    Verb("refreshBloomMv",
      c => c.refreshBloomMv("mv", words(1), Some(1L)),
      c => c.refreshBloomMv("mv", words(2), Some(2L)),
      c => Seq(state(c.bloomMvBits("mv", 256).map(_.toString).toSeq))),
    Verb("saveDerived",
      c => c.saveDerived("rel/t", agg(1)),
      c => c.saveDerived("rel/t", agg(2)),
      c => Seq(state(rows(c.loadDerived("rel/t"))))),
    Verb("saveAnnIndex",
      _ => (),
      c => c.saveAnnIndex("idx", ann),
      c => Seq(annState(c, "idx"))),
    Verb("upsertAnnIndex",
      c => { c.saveAnnIndex("idx", ann); c.upsertAnnIndex("idx", vecs(1), 1L) },
      c => c.upsertAnnIndex("idx", vecs(2), 2L),
      c => Seq(annState(c, "idx"))),
    Verb("compactAnnIndex",
      c => { c.saveAnnIndex("idx", ann); c.upsertAnnIndex("idx", vecs(1), 1L) },
      c => c.compactAnnIndex("idx"),
      c => Seq(annState(c, "idx")),
      visible = false),
    Verb("saveAnnIndexQ",
      _ => (),
      c => c.saveAnnIndexQ("qidx", annQ),
      c => Seq(annQState(c, "qidx"))),
    Verb("upsertAnnIndexQ",
      c => { c.saveAnnIndexQ("qidx", annQ); c.upsertAnnIndexQ("qidx", vecs(1), 1L) },
      c => c.upsertAnnIndexQ("qidx", vecs(2), 2L),
      c => Seq(annQState(c, "qidx"))),
    Verb("compactAnnIndexQ",
      c => { c.saveAnnIndexQ("qidx", annQ); c.upsertAnnIndexQ("qidx", vecs(1), 1L) },
      c => c.compactAnnIndex("qidx"),
      c => Seq(annQState(c, "qidx")),
      visible = false),
    Verb("buildTextIndex",
      _ => (),
      c => c.buildTextIndex("ti", texts(0)),
      c => Seq(textState(c, "ti"))),
    Verb("upsertTextIndex",
      c => { c.buildTextIndex("ti", texts(0)); c.upsertTextIndex("ti", texts(1), 1L) },
      c => c.upsertTextIndex("ti", texts(2), 2L),
      c => Seq(textState(c, "ti"))),
    Verb("compactTextIndex",
      c => { c.buildTextIndex("ti", texts(0)); c.upsertTextIndex("ti", texts(1), 1L) },
      c => c.compactTextIndex("ti"),
      c => Seq(textState(c, "ti")),
      visible = false),
    Verb("refreshScd2Mv",
      c => c.refreshScd2Mv("h", scd(1), "k", "seq", "op", 1L),
      c => c.refreshScd2Mv("h", scd(2), "k", "seq", "op", 2L),
      c => Seq(scdState(c, "h"))),
    Verb("compactScd2",
      c => (1L to 2L).foreach(b => c.refreshScd2Mv("h", scd(b), "k", "seq", "op", b)),
      c => c.compactScd2("h"),
      c => Seq(scdState(c, "h")),
      visible = false),
    Verb("scd2Backfill",
      c => (1L to 2L).foreach(b => c.refreshScd2Mv("h", scd(b), "k", "seq", "op", b)),
      c => c.scd2Backfill("h", Seq(("a", 15L, "u", 9L)).toDF("k", "seq", "op", "v"),
        "k", "seq", "op"),
      c => Seq(scdState(c, "h")),
      retryAfterCommit = false),
    Verb("appendJoinMv",
      c => (1L to 3L).foreach(b => c.appendJoinMv("jv", fact(b), dim, keys, Some(b))),
      c => c.appendJoinMv("jv", fact(4), dim, keys, Some(4L)),
      c => Seq(joinState(c, "jv"))),
    Verb("compactJoinMv",
      c => (1L to 2L).foreach(b => c.appendJoinMv("jv", fact(b), dim, keys, Some(b))),
      c => c.compactJoinMv("jv"),
      c => Seq(joinState(c, "jv")),
      visible = false),
    Verb("maintain",
      c => (1L to 2L).foreach { b =>
        c.refreshScd2Mv("h", scd(b), "k", "seq", "op", b)
        c.appendJoinMv("jv", fact(b), dim, keys, Some(b)) },
      c => c.maintain(threshold = 2),
      c => Seq(scdState(c, "h"), joinState(c, "jv")),
      visible = false),
    Verb("vacuumDerived",
      c => { c.refreshAggMv("mv", agg(1), keys, Some(1L))
        // debris of a refresh that died inside its data write
        CrashFs.arm(Some(CrashFs.Point(spark = true, n = 3)))
        Try(c.refreshAggMv("mv", agg(2), keys, Some(2L)))
        quiesce(); CrashFs.arm(None) },
      c => c.vacuumDerived(),
      c => Seq(state(rows(c.mvState("mv"))), layout(c))),
    Verb("snapshot",
      c => c.snapshot("s", agg(1)),
      c => c.snapshot("s", agg(2)),
      c => Seq(snapState(c, "s")),
      retryAfterCommit = false),
    Verb("retentionPurge",
      _ => (),
      c => c.retentionPurge("s", agg(2), col("n") > 1L),
      c => Seq(snapState(c, "s")),
      retryAfterCommit = false),
    Verb("dropDerived",
      c => c.refreshAggMv("mv", agg(1), keys, Some(1L)),
      c => c.dropDerived("mv"),
      c => Seq(state(rows(c.mvState("mv")))))
  )

  /** Wait until the tasks of a job a crash failed have stopped. */
  private def quiesce(): Unit = {
    val t = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    Thread.sleep(20)
    while ((t.getActiveJobIds.nonEmpty ||
        t.getExecutorInfos.exists(_.numRunningTasks > 0)) &&
        System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  private def copyTree(src: JPath, dst: JPath): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private def catalogAt(root: JPath) =
    new Catalog(spark, sfDir, Some(s"${CrashFs.scheme}://$root"))

  /** Read `v`'s states through a fresh Catalog; a read that issues a
    * mutating filesystem call is reported. */
  private def readFresh(v: Verb, root: JPath,
      failures: collection.mutable.Buffer[String], at: String): Seq[Seq[String]] = {
    CrashFs.arm(None)
    val got = v.read(catalogAt(root))
    val muts = CrashFs.calls(spark = false) + CrashFs.calls(spark = true)
    if (muts > 0) failures += s"$at: a read issued $muts mutating calls"
    got
  }

  /** Every failed check of `v`'s enumeration, one line each. */
  private def enumerate(v: Verb): Seq[String] = {
    val t0 = System.nanoTime()
    val root = tempDir(s"graft-crash-${v.name}")
    val snap = tempDir(s"graft-crash-${v.name}-pre")
    val failures = collection.mutable.Buffer.empty[String]
    CrashFs.arm(None)
    v.setup(catalogAt(root))
    copyTree(root, snap)
    val pre = readFresh(v, root, failures, "pre-state")
    CrashFs.arm(None)
    v.run(catalogAt(root))
    val nCatalog = CrashFs.calls(spark = false)
    val nSpark = CrashFs.calls(spark = true)
    val nMarker = CrashFs.calls(spark = true, "create")
    val post = readFresh(v, root, failures, "post-state")
    assert((pre != post) == v.visible, s"${v.name}: pre-state $pre, post-state $post")
    val points = (1 to nCatalog).map(CrashFs.Point(spark = false, _)) ++
      (1 to nSpark by sparkStride).map(CrashFs.Point(spark = true, _)) ++
      (if (nMarker > 0) Seq(CrashFs.Point(spark = true, nMarker, "create")) else Nil)
    points.foreach { pt =>
      deleteTree(root); copyTree(snap, root)
      CrashFs.arm(Some(pt))
      Try(v.run(catalogAt(root)))
      quiesce()
      val at = s"${v.name} crashed at $pt"
      Try(readFresh(v, root, failures, at)).fold(
        e => failures += s"$at: read threw $e",
        got => {
          got.indices.foreach { i =>
            if (got(i) != pre(i) && got(i) != post(i))
              failures += s"$at: state $i is neither the pre- nor the post-state: " +
                got(i).take(4).mkString("; ")
          }
          val torn = tempDir(s"graft-crash-${v.name}-torn")
          copyTree(root, torn)
          CrashFs.arm(None)
          Try { catalogAt(torn).vacuumDerived(); readFresh(v, torn, failures, at) }.fold(
            e => failures += s"$at: vacuum or read after it threw $e",
            swept => got.indices.foreach { i =>
              if (swept(i) != got(i) && swept(i) != post(i))
                failures += s"$at: a vacuum changed state $i to " +
                  swept(i).take(4).mkString("; ")
            })
          deleteTree(torn)
          if (v.retryAfterCommit || got == pre) {
            CrashFs.arm(None)
            Try(v.run(catalogAt(root))).fold(
              e => failures += s"$at: the retry threw $e",
              _ => Try(readFresh(v, root, failures, s"$at, retried")).fold(
                e => failures += s"$at, retried: read threw $e",
                again => if (again != post)
                  failures += s"$at: the retry did not reach the post-state"))
          }
        })
    }
    CrashFs.arm(None)
    deleteTree(root); deleteTree(snap)
    info(s"${v.name}: ${points.size} crash points " +
      s"($nCatalog catalog calls, $nSpark spark calls), " +
      s"${(System.nanoTime() - t0) / 1000000} ms")
    failures.toSeq
  }

  verbs.foreach { v =>
    test(s"crash at any step of ${v.name} leaves the pre- or the post-state") {
      val failures = enumerate(v)
      assert(failures.isEmpty, failures.take(6).mkString("\n", "\n", ""))
    }
  }

  test("a torn compactJoinMv keeps every row through the next append and a vacuum") {
    val root = tempDir("graft-crash-jvtorn")
    val snap = tempDir("graft-crash-jvtorn-pre")
    CrashFs.arm(None)
    (1L to 3L).foreach(b => catalogAt(root).appendJoinMv("jv", fact(b), dim, keys, Some(b)))
    copyTree(root, snap)
    CrashFs.arm(None)
    catalogAt(root).compactJoinMv("jv")
    val renames = CrashFs.calls(spark = false, "rename")
    val n0 = catalogAt(root).readJoinMv("jv").count()
    (1 to renames).foreach { n =>
      deleteTree(root); copyTree(snap, root)
      CrashFs.arm(Some(CrashFs.Point(spark = false, n, "rename")))
      Try(catalogAt(root).compactJoinMv("jv"))
      quiesce(); CrashFs.arm(None)
      val cat = catalogAt(root)
      assert(cat.appendJoinMv("jv", fact(4), dim, keys, Some(4L)).count() == n0 + 2,
        s"crash at catalog rename #$n lost rows")
      cat.vacuumDerived()
      assert(catalogAt(root).readJoinMv("jv").count() == n0 + 2,
        s"crash at catalog rename #$n: vacuum lost rows")
    }
  }

  /** After a compaction, replaying ANY applied batch id is a no-op. */
  private def replaysNoOp(name: String, build: Catalog => Unit,
      upsert: (Catalog, Long) => Unit, compact: Catalog => Unit,
      read: Catalog => Seq[String]): Unit = {
    val root = tempDir(s"graft-replay-$name")
    CrashFs.arm(None)
    val cat = catalogAt(root)
    build(cat)
    (1L to 2L).foreach(b => upsert(cat, b))
    compact(cat)
    val folded = read(cat)
    (1L to 2L).foreach { b =>
      upsert(cat, b)
      assert(read(cat) == folded, s"$name: replay of folded batch $b changed the state")
    }
  }

  test("replaying an earlier folded batch after compactTextIndex is a no-op") {
    replaysNoOp("text", _.buildTextIndex("ti", docs.where(col("doc_id") % 3 === 1)),
      (c, b) => c.upsertTextIndex("ti",
        docs.where(col("doc_id") % 3 === (if (b == 1L) 2 else 0)), b),
      _.compactTextIndex("ti"), c => textState(c, "ti"))
  }

  test("replaying an earlier folded batch after compactAnnIndex is a no-op") {
    replaysNoOp("ann", _.saveAnnIndex("idx", ann),
      (c, b) => c.upsertAnnIndex("idx", vecs(b.toInt), b),
      _.compactAnnIndex("idx"), c => annState(c, "idx"))
  }

  test("replaying an earlier folded batch after compactJoinMv is a no-op") {
    replaysNoOp("join", c => c.appendJoinMv("jv", fact(0), dim, keys, Some(0L)),
      (c, b) => c.appendJoinMv("jv", fact(b), dim, keys, Some(b)),
      _.compactJoinMv("jv"), c => joinState(c, "jv"))
  }

  test("replaying an earlier folded batch after compactScd2 is a no-op") {
    replaysNoOp("scd2", c => c.refreshScd2Mv("h", scd(0), "k", "seq", "op", 0L),
      (c, b) => c.refreshScd2Mv("h", scd(b), "k", "seq", "op", b),
      _.compactScd2("h"), c => scdState(c, "h"))
  }

  test("loadTextIndex starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tempDir("graft-crash-nojob")
    CrashFs.arm(None)
    val cat = catalogAt(root)
    cat.buildTextIndex("ti", texts(0))
    cat.upsertTextIndex("ti", texts(1), 1L)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-load-probe", "loadTextIndex")
      catalogAt(root).loadTextIndex("ti")
      // a marker job after it: listener events arrive in order, so once
      // the marker is seen every job the load started has been seen too
      sc.setJobGroup("graft-load-marker", "marker")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("graft-load-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("graft-load-marker"))
      assert(!groups.contains("graft-load-probe"), "loadTextIndex started a Spark job")
    } finally sc.removeSparkListener(listener)
  }
}
