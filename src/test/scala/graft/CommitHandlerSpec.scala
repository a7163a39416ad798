package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{CommitHandler, ExternalKvCommitHandler, FileKv, GraftTable,
  MemKv, PutCommitHandler, WalIngest}

/** The object-store commit story (reference `io/commit.rs` handler
  * selection, `external_manifest.rs`, `dynamodb.rs`): first demonstrate
  * that a store with only last-writer-wins PUT loses commits, then prove
  * the external-KV handler serializes the exact same non-atomic store —
  * including a full multi-writer chaos run where NO filesystem atomicity
  * is used at any commit point. */
class CommitHandlerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def hfs(p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def readBytes(p: Path): Array[Byte] = {
    val f = hfs(p)
    val in = f.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** Run `n` racers through `body` after a common start gate. */
  private def race(n: Int)(body: Int => Boolean): Seq[Boolean] = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val futs = (0 until n).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = { start.await(); body(i) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    futs.map(_.get())
  }

  test("put handler IS the hazard: racing committers of one version both win") {
    val dir = tmp("graft_put_")
    val dest = new Path(s"$dir/v1.json")
    val wins = race(2)(i =>
      PutCommitHandler.commit(hfs(dest), dest, s"""{"writer":$i}""".getBytes))
    // last-writer-wins PUT: both report success — one transaction is
    // silently lost. This is what S3-without-conditional-writes does to
    // the CAS loop, and why the external handler exists.
    assert(wins == Seq(true, true))
  }

  test("external KV over the same blind PUT: exactly one of 8 racers wins") {
    val dir = tmp("graft_kv_race_")
    val dest = new Path(s"$dir/v1.json")
    val handler = new ExternalKvCommitHandler(MemKv("spec-race"))
    val wins = race(8)(i =>
      handler.commit(hfs(dest), dest, s"""{"writer":$i}""".getBytes))
    assert(wins.count(identity) == 1, s"wins: $wins")
    val winner = wins.indexOf(true)
    assert(new String(readBytes(dest), "UTF-8") == s"""{"writer":$winner}""")
    // a later commit of the same dest loses cleanly
    assert(!handler.commit(hfs(dest), dest, "late".getBytes))
  }

  test("crash between KV claim and object write: listing recovers the version") {
    val session = spark.newSession()
    session.conf.set(CommitHandler.ConfKey, "kvmem:spec-crash")
    val kv = MemKv("spec-crash")
    val t = tmp("graft_crash_") + "/t"
    import session.implicits._
    GraftTable.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    GraftTable.write(Seq((2L, "b")).toDF("id", "v"), t, "append")
    val vN = GraftTable.latestVersion(session, t).get
    // simulate the crash window: the claim exists and staging holds the
    // payload, but the destination object was never written
    val mDir = new Path(s"$t/_manifests")
    val dest = new Path(mDir, f"$vN%020d.json")
    val bytes = readBytes(dest)
    val staging = new Path(mDir, s".stage-recovered-$vN")
    val out = hfs(staging).create(staging, true)
    try out.write(bytes) finally out.close()
    kv.put(dest.toString, staging.toString)
    hfs(dest).delete(dest, false)
    assert(!hfs(dest).exists(dest))
    // any listing finishes the crashed commit (external_manifest.rs's
    // reader-side finalize)
    assert(GraftTable.versions(session, t).contains(vN))
    assert(hfs(dest).exists(dest))
    assert(kv.get(dest.toString).contains("FINAL"))
    assert(GraftTable.read(session, t).count() == 2)
  }

  test("table wiped and recreated at the same path reclaims stale FINAL claims") {
    val session = spark.newSession()
    session.conf.set(CommitHandler.ConfKey, "kvmem:spec-reclaim")
    val t = tmp("graft_reclaim_") + "/t"
    import session.implicits._
    GraftTable.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    GraftTable.write(Seq((2L, "b")).toDF("id", "v"), t, "append")
    // wipe the table directory outright (rm -rf) — KV claims survive
    val root = new Path(t)
    hfs(root).delete(root, true)
    // re-creating at the same path must not wedge on the dead claims
    GraftTable.write(Seq((9L, "z")).toDF("id", "v"), t, "overwrite")
    assert(GraftTable.read(session, t).select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("lost KV (restarted kvmem / fs-migrated table): committed object is never overwritten (r14)") {
    val dir = tmp("graft_lostkv_")
    val dest = new Path(s"$dir/v1.json")
    val first = new ExternalKvCommitHandler(MemKv("spec-lost-a"))
    assert(first.commit(hfs(dest), dest, "committed".getBytes))
    // a FRESH KV (restarted driver on kvmem, or a table that committed
    // under the fs handler before migrating to kv) has no claim for the
    // existing object — the handler must refuse, heal the claim to FINAL,
    // and never clobber the committed bytes
    val fresh = MemKv("spec-lost-b")
    val second = new ExternalKvCommitHandler(fresh)
    assert(!second.commit(hfs(dest), dest, "usurper".getBytes))
    assert(new String(readBytes(dest), "UTF-8") == "committed")
    assert(fresh.get(dest.toString).contains("FINAL"), "claim healed")
    // healed: a later commit of the same dest loses cleanly through the
    // normal path too
    assert(!second.commit(hfs(dest), dest, "again".getBytes))
    assert(new String(readBytes(dest), "UTF-8") == "committed")
    // no stray staging objects left behind
    val leftovers = hfs(dest).listStatus(new Path(dir))
      .map(_.getPath.getName).filter(_.startsWith(".stage-"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("orphaned claim (staging swept after claimant crash) is reclaimed, table never wedges (r14)") {
    val dir = tmp("graft_orphan_")
    val dest = new Path(s"$dir/v1.json")
    val kv = MemKv("spec-orphan")
    val handler = new ExternalKvCommitHandler(kv)
    // a claimant crashed between claim and object write, and a cleanup
    // sweep later removed its aged staging object: non-FINAL claim, no
    // staging, no destination. recover() deliberately leaves this entry —
    // without reclaim every future commit of v1 would lose forever.
    kv.put(dest.toString, s"$dir/.stage-v1.json-dead00")
    assert(!hfs(dest).exists(dest))
    assert(handler.commit(hfs(dest), dest, "healed".getBytes),
      "commit must reclaim the orphaned claim")
    assert(new String(readBytes(dest), "UTF-8") == "healed")
    assert(kv.get(dest.toString).contains("FINAL"))
    // but a LIVE claimant's claim (staging exists) is never stolen
    val dest2 = new Path(s"$dir/v2.json")
    val liveStaging = new Path(s"$dir/.stage-v2.json-live01")
    val out = hfs(liveStaging).create(liveStaging, true)
    try out.write("inflight".getBytes) finally out.close()
    kv.put(dest2.toString, liveStaging.toString)
    assert(!handler.commit(hfs(dest2), dest2, "thief".getBytes))
  }

  test("recover skips a staging object its claimant deletes as it finalizes") {
    val dir = tmp("graft_recover_race_")
    val dest = new Path(s"$dir/v1.json")
    val kv = MemKv("spec-recover-race")
    val handler = new ExternalKvCommitHandler(kv)
    val local = hfs(dest)
    def put(p: Path, body: String): Unit = {
      val out = local.create(p, true)
      try out.write(body.getBytes) finally out.close()
    }
    // a claimant has staged its payload and won the claim ...
    val staging = new Path(s"$dir/.stage-v1.json-claim01")
    put(staging, "claimed")
    kv.put(dest.toString, staging.toString)
    // ... and finishes its commit (dest written, claim FINAL, staging
    // deleted) in the window between recover() listing the claim and
    // opening the staging it names
    val racing = new org.apache.hadoop.fs.FilterFileSystem(local) {
      override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
        if (f == staging && local.exists(staging)) {
          put(dest, "claimed")
          kv.put(dest.toString, "FINAL")
          local.delete(staging, false)
        }
        super.open(f, bufferSize)
      }
    }
    handler.recover(racing, new Path(dir))
    assert(new String(readBytes(dest), "UTF-8") == "claimed")
    assert(kv.get(dest.toString).contains("FINAL"))
  }

  test("WAL ownership fence holds through the external handler") {
    val session = spark.newSession()
    session.conf.set(CommitHandler.ConfKey, "kvmem:spec-wal")
    val t = tmp("graft_walkv_") + "/t"
    import session.implicits._
    GraftTable.write(Seq((1L, "a")).toDF("id", "v"), t, "overwrite")
    // racing opens: exactly one owner wins the generation
    val outcomes = race(4)(i =>
      try { WalIngest.open(session, t, "r", s"owner-$i"); true }
      catch { case _: IllegalStateException => false })
    assert(outcomes.count(identity) == 1, s"opens: $outcomes")
    val owner = s"owner-${outcomes.indexOf(true)}"
    WalIngest.append(session, t, "r", owner, Seq((2L, "b")).toDF("id", "v"))
    assert(WalIngest.flush(session, t, "r", owner) == 1L)
    assert(GraftTable.read(session, t).count() == 2)
  }

  test("FileKv: atomic claim across threads, persistent across reopen") {
    val root = tmp("graft_filekv_")
    val kv = FileKv(root)
    val won = new AtomicInteger(0)
    race(8)(i =>
      if (kv.putIfAbsent("k", s"v$i")) { won.incrementAndGet(); true } else false)
    assert(won.get() == 1)
    val v = kv.get("k").get
    kv.put("other", "x")
    assert(kv.scan("").map(_._1).sorted == Seq("k", "other"))
    assert(!kv.replaceIf("k", "wrong", "nope"))
    assert(kv.replaceIf("k", v, "FINAL"))
    // a second handle over the same root (fresh process model) sees state
    assert(FileKv(root).get("k").contains("FINAL"))
    // and the kv: conf spec resolves to a working handler
    val h = CommitHandler.resolve(s"kv:$root")
    val dest = new Path(s"${tmp("graft_filekv_obj_")}/v1.json")
    assert(h.commit(hfs(dest), dest, "payload".getBytes))
    assert(!h.commit(hfs(dest), dest, "loser".getBytes))
  }

  test("chaos with ZERO fs atomicity: external KV serializes 4 appenders + deleter") {
    // Every commit in this run goes through ExternalKvCommitHandler,
    // whose object writes are plain overwrite PUTs — no exclusive
    // create, no rename-CAS, no JVM commit lock anywhere on the path.
    // The KV claim alone must serialize the writers.
    val session = spark.newSession()
    session.conf.set(CommitHandler.ConfKey, "kvmem:spec-chaos")
    import session.implicits._
    val t = tmp("graft_chaos_kv_") + "/t"
    GraftTable.write(Seq((0L, "seed")).toDF("id", "v"), t, "overwrite")
    val appenders = 4
    val perWriter = 4
    val pool = Executors.newFixedThreadPool(appenders + 1)
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def submit(body: => Unit): Unit = pool.submit(new Runnable {
      override def run(): Unit = {
        SparkSession.setActiveSession(session)
        start.await()
        try body catch { case e: Throwable => errors.add(e) }
      }
    })
    for (w <- 0 until appenders) submit {
      for (b <- 0 until perWriter) {
        val base = 1000L * (w * perWriter + b + 1)
        GraftTable.write((base until base + 10)
          .map(i => (i, s"w$w-b$b")).toDF("id", "v"), t, "append")
      }
    }
    submit {
      for (_ <- 1 to 4) {
        try GraftTable.delete(session, t, "id % 1000 = 3")
        catch { case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("conflict") => }
        Thread.sleep(25)
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "chaos run timed out")
    assert(errors.isEmpty, s"writer errors: ${errors.toArray.mkString("; ")}")
    GraftTable.delete(session, t, "id % 1000 = 3")
    val got = GraftTable.read(session, t).select("id").as[Long].collect().sorted
    val expected = (Seq(0L) ++ (for {
      w <- 0 until appenders; b <- 0 until perWriter
      base = 1000L * (w * perWriter + b + 1)
      i <- base until base + 10
    } yield i)).filterNot(_ % 1000 == 3).sorted
    assert(got.toSeq == expected, s"lost or duplicated commits: got ${got.length}, expected ${expected.length}")
    assert(GraftTable.validate(session, t).isEmpty, "validate() clean")
  }
}
