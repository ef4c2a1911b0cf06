package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionMemo
import graft.ops._

/** The [[SessionMemo]] contract, first on a fake value whose releases
  * are counted, then on the engine's own memos: invalidation across
  * every ops file, and concurrent queries over shared memos.
  */
class SessionMemoSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = TestSpark.sf

  /** A fake memo over table `t` whose value is a fresh id per build;
    * `released` counts each value's releases.
    */
  private class Fake(throwOnRelease: Boolean = false) {
    val builds = new AtomicInteger
    val released = new ConcurrentHashMap[Int, AtomicInteger]
    val memo = SessionMemo[Int]("fake", "t") { v =>
      released.computeIfAbsent(v, _ => new AtomicInteger).incrementAndGet()
      if (throwOnRelease) throw new IllegalStateException("release failed")
    }
    def get(d: String, p: Int): Int = memo(spark, d, p)(builds.incrementAndGet())
    def releases(v: Int): Int = Option(released.get(v)).fold(0)(_.get)
  }

  /** A dir whose table `t` fingerprint changes with each `touch`. */
  private def corpusDir(): (String, () => Unit) = {
    val dir = Files.createTempDirectory("memo_spec")
    val tbl = Files.createDirectories(dir.resolve("t.parquet"))
    Files.writeString(tbl.resolve("part-0"), "a")
    val n = new AtomicInteger
    (dir.toString, () => { Files.writeString(tbl.resolve(s"part-${n.incrementAndGet()}"), "b"); () })
  }

  private def inThreads[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until n).map(i => Future(body(i)))), 120.seconds)
    finally pool.shutdownNow(): Unit
  }

  test("one build per key; another param is another key") {
    val (d, _) = corpusDir()
    val f = new Fake
    val v = f.get(d, 1)
    assert(f.get(d, 1) == v && f.builds.get == 1)
    assert(f.get(d, 2) != v && f.builds.get == 2)
  }

  test("a fingerprint change evicts every param variant, each released exactly once") {
    val (d, touch) = corpusDir()
    val f = new Fake
    val old = Seq(1, 2, 3).map(f.get(d, _))
    touch()
    val fresh = f.get(d, 1)
    assert(!old.contains(fresh))
    old.foreach(v => assert(f.releases(v) == 1, s"value $v"))
    f.get(d, 2)
    old.foreach(v => assert(f.releases(v) == 1, s"value $v"))
    assert(f.releases(fresh) == 0)
  }

  test("a throwing build leaves no entry and the next call retries") {
    val (d, _) = corpusDir()
    val f = new Fake
    intercept[IllegalStateException](f.memo(spark, d, 1)(throw new IllegalStateException("boom")))
    assert(f.get(d, 1) == 1 && f.builds.get == 1)
  }

  test("a throwing release does not escape eviction or invalidate") {
    val (d, touch) = corpusDir()
    val f = new Fake(throwOnRelease = true)
    val v = f.get(d, 1)
    touch()
    val w = f.get(d, 1)
    assert(f.releases(v) == 1)
    SessionMemo.invalidate()
    assert(f.releases(w) == 1)
  }

  test("two threads on one key build once") {
    val (d, _) = corpusDir()
    val builds = new AtomicInteger
    val memo = SessionMemo[Int]("fake", "t")(_ => ())
    val barrier = new CyclicBarrier(2)
    val got = inThreads(2) { _ =>
      barrier.await()
      memo(spark, d) { Thread.sleep(200); builds.incrementAndGet() }
    }
    assert(builds.get == 1 && got.distinct == Seq(1))
  }

  test("builds that look up each other's memo in opposite orders finish") {
    val (d, _) = corpusDir()
    val a = SessionMemo[Int]("fake-a", "t")(_ => ())
    val b = SessionMemo[Int]("fake-b", "t")(_ => ())
    val inside = new CyclicBarrier(2)
    // thread 0 builds a(1) → b(2); thread 1 builds b(3) → a(4), both
    // outer builds in flight before either inner lookup
    val got = inThreads(2) { i =>
      val (outer, inner) = if (i == 0) (a, b) else (b, a)
      outer(spark, d, 1 + 2 * i) {
        inside.await(30, TimeUnit.SECONDS)
        inner(spark, d, 2 + 2 * i)(10 + i) + 1
      }
    }
    assert(got == Seq(11, 12))
  }

  test("an invalidate racing a build releases the value once the build completes") {
    val (d, _) = corpusDir()
    val f = new Fake
    val started = new CountDownLatch(1)
    val finish = new CountDownLatch(1)
    val v = inThreads(2) { i =>
      if (i == 0) f.memo(spark, d, 1) {
        started.countDown(); finish.await(30, TimeUnit.SECONDS); 7
      } else {
        started.await(30, TimeUnit.SECONDS)
        SessionMemo.invalidate()
        finish.countDown()
        0
      }
    }.head
    assert(v == 7 && f.releases(7) == 1)
    assert(f.memo(spark, d, 1)(8) == 8, "the invalidated entry was served")
  }

  test("an on-disk memo's scratch dir is per key and deleted on release") {
    val (d, touch) = corpusDir()
    val memo = SessionMemo[String]("fake-disk", "t")(_ => ())
    def write(p: Int) = memo.onDisk(spark, d, p) { dir =>
      Files.createDirectories(Path.of(dir)); Files.writeString(Path.of(dir, "f"), "x"); dir
    }
    val (one, two) = (write(1), write(2))
    assert(one != two && Files.exists(Path.of(one)) && Files.exists(Path.of(two)))
    touch()
    val fresh = write(1)
    assert(!Files.exists(Path.of(one)) && !Files.exists(Path.of(two)))
    SessionMemo.invalidate()
    assert(!Files.exists(Path.of(fresh)))
  }

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq

  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDD ids after unreachable ones are collected: an id
    * still here is held by something, such as a memo entry.
    */
  private def heldIds(): Set[Int] = {
    System.gc()
    Thread.sleep(200)
    persistedIds()
  }

  test("invalidate releases the memos of every ops file and a re-run rebuilds equal answers") {
    val queries = Seq("q32_minhash_lsh", "q102_triangle_counts", "q148_repeated_spans",
      "q160_kmv_distinct", "q155_phash_neardup", "q70_ivf_probe_indexed",
      "q80_compact_roundtrip", "q172_hybrid_query_rrf", "q175_ce_rerank")
    SessionMemo.invalidate()
    val before = heldIds()
    val first = queries.map(rows)
    // the memo frames and scratch dirs this run left behind
    def cached(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val frames = Seq(Dedup.lshSignatures(spark, sf), Dedup.lshCandidateCounts(spark, sf),
      Dedup.contentHashes(spark, sf), Multimodal.phashIndex(spark, sf)._1,
      Similarity.hybridIndex(spark, sf).postings, Similarity.hybridIndex(spark, sf).dfTable)
    val fusedRdd = Similarity.fusedTop10(spark, sf).queryExecution.logical
      .asInstanceOf[LogicalRDD].rdd.id
    val ivfDir = Path.of(new java.net.URI(spark.table(Similarity.ivfIndexTable(spark, sf))
      .inputFiles.head)).getParent.getParent
    val compactDir = Path.of(new java.net.URI(
      Layout.q80CompactRoundtrip(spark, sf).inputFiles.head)).getParent
    assert(frames.forall(cached) && persistedIds().contains(fusedRdd))
    assert(Files.exists(ivfDir) && Files.exists(compactDir))

    SessionMemo.invalidate()
    assert(!frames.exists(cached), "invalidate left a memo frame persisted")
    assert(!persistedIds().contains(fusedRdd), "the fused top-10 checkpoint is still persisted")
    assert(!Files.exists(ivfDir) && !Files.exists(compactDir), "an on-disk memo dir is left")
    // and no RDD the run persisted outlives its collection, checkpoints
    // the memo builds read included (the q102 triangle graph)
    val left = Iterator.fill(10)(heldIds() -- before).find(_.isEmpty)
      .getOrElse(heldIds() -- before)
    assert(left.isEmpty, s"persisted RDDs left after invalidate: ${left.toSeq.sorted.mkString(", ")}")

    assert(queries.map(rows) == first, "a re-run after invalidate changed an answer")
  }

  test("iterative queries release every superseded checkpoint round") {
    // each loop checkpoints one frame per round and releases the one
    // before; Dataset.unpersist alone leaves a checkpoint RDD persisted,
    // so without SessionMemo.unpersist the rounds stay until a GC. The
    // only checkpoints left are the ones the returned frame reads.
    for (q <- Seq("q69_dedup_components", "q71_dedup_components_star", "q137_pagerank",
        "q147_pagerank_converged", "q153_bpe_train", "q171_kcenter_coreset")) {
      SessionMemo.invalidate()
      val before = persistedIds()
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val read = df.queryExecution.analyzed.collectWithSubqueries {
        case r: LogicalRDD => r.rdd.id
      }.toSet
      val left = spark.sparkContext.getPersistentRDDs
        .filter { case (id, r) => !before(id) && !read(id) && r.isCheckpointed }.keys
      assert(left.isEmpty, s"$q left checkpoint RDDs: ${left.toSeq.sorted.mkString(", ")}")
    }
  }

  test("concurrent queries over shared memos equal a sequential run and build each memo once") {
    val pairs = Seq(("q148_repeated_spans", "q151_dedup_keep_first"),
      ("q32_minhash_lsh", "q102_triangle_counts"))
    def run(concurrent: Boolean): (Seq[Seq[String]], Int) = {
      SessionMemo.invalidate()
      val before = heldIds()
      val out = pairs.flatMap { case (a, b) =>
        if (concurrent) {
          val barrier = new CyclicBarrier(2)
          inThreads(2) { i => barrier.await(); rows(if (i == 0) a else b) }
        } else Seq(rows(a), rows(b))
      }
      (out, (heldIds() -- before).size)
    }
    val (seqRows, seqHeld) = run(concurrent = false)
    val (parRows, parHeld) = run(concurrent = true)
    assert(parRows == seqRows)
    // each shared memo's frames are persisted once: the concurrent run
    // holds as many persisted RDDs as the sequential one
    assert(seqHeld > 0 && parHeld == seqHeld, s"sequential $seqHeld, concurrent $parHeld")
  }
}
