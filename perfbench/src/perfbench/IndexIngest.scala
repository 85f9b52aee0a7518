package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.ReentrantLock

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.TextAnalysis
import graft.sources.Catalog

/** `index_ingest`: an open-loop generator drops a fixed number of
  * new-document files into a source directory at a fixed rate; a streaming
  * query upserts each file into the text index and runs compaction; one
  * closed-loop client runs BM25 searches until every file is committed.
  * Searches and batch commits share one lock, the serialization
  * `Catalog`'s contract asks for. */
object IndexIngest {
  val name = "ingest_idx"

  def run(ctx: Ctx, res: RunResult): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    val base = ctx.input.resolve("base.parquet")
    val staged = ctx.input.resolve("drops")
    val src = Files.createDirectories(ctx.work.resolve("source"))
    val derived = ctx.work.resolve("derived")
    val cat = new Catalog(spark, ctx.work.resolve("catalog").toString, Some(derived.toString))
    val docsPerFile = ctx.int("docs_per_file")
    val nBase = ctx.int("n_base")
    val interval = 1000.0 / ctx.dbl("files_per_s")
    val threshold = ctx.int("compact_at")
    // the generator's vocabulary, in the popularity order searches draw from
    val vocab = Files.readAllLines(ctx.input.resolve("vocab.txt")).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toIndexedSeq
    val zipf = new Main.Zipf(vocab.size, ctx.dbl("zipf_s"), new java.util.Random(ctx.seed))
    val queryMinRequests = ctx.int("min_requests")
    def searchTerms(): List[String] =
      Iterator.continually(vocab(zipf.next())).distinct.take(2).toList

    val schema = spark.read.parquet(base.toString).schema
    val b0 = System.nanoTime()
    cat.buildTextIndex(name, spark.read.parquet(base.toString))
    res.setup("build_index_s") = Main.since(b0)

    // untimed warm-up: the warm-up file goes through a short stream into
    // the index as segment 0 (the first trigger, upsert and maintenance),
    // then searches (after a single one, the timed searches still fell
    // by half over the window)
    val w0 = System.nanoTime()
    locally {
      val warmSrc = Files.createDirectories(ctx.work.resolve("warm-source"))
      Files.copy(ctx.input.resolve("warm.parquet"), warmSrc.resolve("warm.parquet"))
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(warmSrc.toString).writeStream
        .foreachBatch((b: DataFrame, id: Long) => {
          cat.upsertTextIndex(name, b, id); cat.maintainOne(name, threshold): Unit
        })
        .option("checkpointLocation", ctx.work.resolve("warm-ckpt").toString).start()
      try q.processAllAvailable() finally q.stop()
      (0 until ctx.int("warmup_searches")).foreach { _ =>
        TextAnalysis.bm25Indexed(cat.loadTextIndex(name), searchTerms(), 10).collect()
      }
      spark.catalog.clearCache()
    }
    res.setup("warmup_s") = Main.since(w0)

    val lock = new ReentrantLock(true)
    // scheduled drop time of file i. The generator stamps each file's
    // modification time at its drop, and the file source takes the oldest
    // unseen file first, so micro-batch i commits file i.
    val scheduled = TrieMap.empty[Long, Double]
    val committedDocs = new java.util.concurrent.atomic.AtomicLong(0L)
    val seenFiles = mutable.HashMap.empty[String, Long] // index files already counted
    var bytesWritten = 0L
    var filesWritten = 0L
    def countWrites(): Unit = {
      val s = Files.walk(derived)
      try s.filter(Files.isRegularFile(_)).forEach { p =>
        val key = s"$p@${Files.getLastModifiedTime(p).toMillis}"
        if (!seenFiles.contains(key)) {
          val n = Files.size(p)
          seenFiles(key) = n; bytesWritten += n; filesWritten += 1
        }
      } finally s.close()
    }
    countWrites()
    bytesWritten = 0L; filesWritten = 0L
    val batchErrors = new java.util.concurrent.atomic.AtomicLong(0L)
    val batchNs = new java.util.concurrent.atomic.AtomicLong(0L)

    val detach = if (tr.enabled) Tracing.attach(spark, tr) else () => ()
    val query = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(src.toString).writeStream
      .foreachBatch((batch: DataFrame, id: Long) => {
        val req = s"batch-$id"
        Main.asRequest(spark, req) {
          tr.span("batch", "streaming", req) {
            val l0 = System.nanoTime()
            lock.lock()
            tr.add("streaming.lock_wait_ms", (System.nanoTime() - l0) / 1e6)
            try {
              val b0 = System.nanoTime()
              // segment ids continue after the warm-up's segment 0
              tr.span("upsert", "sources", req)(cat.upsertTextIndex(name, batch, id + 1))
              val c0 = System.nanoTime()
              val compacted = tr.span("maintain", "sources", req)(cat.maintainOne(name, threshold))
              if (compacted) {
                tr.add("sources.compactions", 1)
                tr.add("sources.compact_ms", (System.nanoTime() - c0) / 1e6)
              }
              // ingest work: upsert and maintenance, not the lock wait
              batchNs.addAndGet(System.nanoTime() - b0)
              countWrites()
            } catch {
              case e: Exception =>
                batchErrors.incrementAndGet()
                System.err.println(s"[perfbench] batch $id failed: $e")
            } finally lock.unlock()
          }
        }
        val end = tr.nowMs()
        scheduled.get(id).foreach(s => res.sample("lag_ms", end - s))
        committedDocs.addAndGet(docsPerFile): Unit
      })
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.work.resolve("ckpt").toString)
      .start()

    // the open-loop generator: file i is due at t0 + i * interval
    val toDrop = Files.list(staged).toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
    val nDrops = toDrop.length
    val t0 = System.nanoTime()
    val t0Ms = tr.nowMs(t0)
    val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
    val droppedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val backlogMax = new java.util.concurrent.atomic.AtomicLong(0L)
    val lateMax = new java.util.concurrent.atomic.AtomicLong(0L) // µs
    val generator = new Thread(() => {
      var i = 0
      while (i < nDrops) {
        val due = t0 + (i * interval * 1e6).toLong
        while (System.nanoTime() < due)
          java.util.concurrent.locks.LockSupport.parkNanos(due - System.nanoTime())
        val f = toDrop(i)
        val fname = f.getFileName.toString
        scheduled(i.toLong) = t0Ms + i * interval
        lateMax.accumulateAndGet((System.nanoTime() - due) / 1000L, math.max)
        droppedBytes.addAndGet(Files.size(f))
        Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis()))
        Files.move(f, src.resolve(fname), StandardCopyOption.ATOMIC_MOVE)
        dropped.incrementAndGet()
        val backlog = dropped.get - committedDocs.get / docsPerFile
        backlogMax.accumulateAndGet(backlog, math.max)
        i += 1
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    // the closed-loop search client
    var n = 0
    var totalMs = 0.0
    var segReads = 0L
    def segments(): Int = {
      val root = derived.resolve(name)
      if (!Files.exists(root)) 0
      else {
        val s = Files.list(root)
        try s.filter(p => p.getFileName.toString.startsWith("postings_seg_b")).count().toInt
        finally s.close()
      }
    }
    // the window ends when every file is committed, --seconds have passed
    // and enough searches were made
    def ingesting = committedDocs.get < nDrops.toLong * docsPerFile && query.isActive
    while (ingesting || Main.since(t0) < ctx.seconds || n < queryMinRequests) {
      val terms = searchTerms()
      val req = s"search-$n"
      res.attempted += 1
      val s0 = System.nanoTime()
      val rows = Main.asRequest(spark, req) {
        tr.span("search", "client", req) {
          val l0 = System.nanoTime()
          lock.lock()
          tr.add("streaming.lock_wait_ms", (System.nanoTime() - l0) / 1e6)
          try {
            val idx = tr.span("load_index", "sources", req)(cat.loadTextIndex(name))
            val rows = tr.span("bm25", "operators", req) {
              val df = TextAnalysis.bm25Indexed(idx, terms, 10)
              val rows = df.collect()
              Tracing.planSpans(tr, df.queryExecution, req)
              rows
            }
            segReads += segments()
            rows
          } finally lock.unlock()
        }
      }
      val ms = (System.nanoTime() - s0) / 1e6
      res.sample("query_ms", ms)
      totalMs += ms
      val scores = rows.map(_.getAs[Double]("score"))
      if (rows.length > 10 || scores.zip(scores.drop(1)).exists { case (a, b) => a < b }) {
        res.failed += 1
        res.check(s"search-$n", ok = false, "top-k not ordered by score")
      }
      n += 1
    }
    generator.join()
    val d0 = System.nanoTime()
    query.processAllAvailable()
    query.stop()
    val wallMs = Main.since(t0) * 1000.0
    detach()
    res.values("drain_s") = Main.since(d0)
    val c0 = System.nanoTime()
    val nFiles = dropped.get
    res.attempted += nFiles
    res.failed += batchErrors.get

    // correctness: the index equals a direct scan of everything ingested
    val all = spark.read.parquet(base.toString, ctx.input.resolve("warm.parquet").toString)
      .unionByName(spark.read.parquet(src.toString))
    val idx = cat.loadTextIndex(name)
    val dlRows = idx.dl.count()
    val expectDocs = nBase.toLong + (nFiles + 1L) * docsPerFile
    res.check("dl_rows", dlRows == expectDocs, s"dl=$dlRows expected=$expectDocs")
    if (dlRows != expectDocs) res.failed += 1
    Seq(Seq("data", "join", "scan"))
      .foreach { q =>
        val got = TextAnalysis.bm25Indexed(idx, q, 10).collect().toSeq.map(rowKey)
        val want = TextAnalysis.bm25(all, q, 10).collect().toSeq.map(rowKey)
        val ok = got == want
        res.check(s"bm25:${q.mkString("+")}", ok, s"indexed=${got.take(3)} direct=${want.take(3)}")
        if (!ok) res.failed += 1
      }
    res.values("check_s") = Main.since(c0)
    val lagN = res.samples.get("lag_ms").map(_.size).getOrElse(0)
    val allCommitted = lagN == nDrops && nFiles == nDrops
    res.check("every_file_committed", allCommitted,
      s"committed=$lagN dropped=$nFiles planned=$nDrops")
    if (!allCommitted) res.failed += 1

    val inputBytes = Files.size(base) + droppedBytes.get
    res.values("write_amp") = bytesWritten.toDouble / droppedBytes.get
    res.values("space_amp") = Main.duBytes(derived.resolve(name)).toDouble / inputBytes
    res.values("requests") = n.toDouble
    res.values("files") = nFiles.toDouble
    res.values("docs_per_s") = nFiles.toDouble * docsPerFile / (batchNs.get / 1e9)
    res.values("wall_s") = wallMs / 1000.0

    if (tr.enabled) {
      val spans = tr.allSpans
      def sumMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
      res.layers("sources.upsert_ms") = sumMs("upsert")
      res.layers("sources.compact_ms") = tr.counter("sources.compact_ms")
      res.layers("sources.compactions") = tr.counter("sources.compactions")
      res.layers("sources.load_index_ms") = sumMs("load_index")
      res.layers("sources.segments_at_read") = if (n > 0) segReads.toDouble / n else 0.0
      res.layers("sources.bytes_written") = bytesWritten.toDouble
      res.layers("sources.files_written") = filesWritten.toDouble
      res.layers("operators.bm25_ms") = sumMs("bm25")
      res.layers("streaming.backlog_files_max") = backlogMax.get.toDouble
      res.layers("ingest.generator_late_ms") = lateMax.get / 1000.0
      res.layers("streaming.lock_wait_ms") = tr.counter("streaming.lock_wait_ms")
      res.layers("client.requests") = n.toDouble
      Main.execLayers(ctx, res, wallMs, totalMs + sumMs("batch"))
      Main.layerTimes(tr, res, totalMs + sumMs("batch"))
    }
    res.layers("sources.build_index_s") = res.setup("build_index_s")
    cat.dropDerived(name)
  }

  private def rowKey(r: Row): (Long, Double) =
    (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))
}
