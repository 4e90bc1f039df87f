package graft

import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem masquerading under a scheme graft does NOT trust
  * for atomic create/rename — the spec handle for the capability probe
  * (VERDICT r13 #2: the object-store caveat must surface at runtime,
  * not live in comments). */
class MockNonAtomicFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: java.net.URI = java.net.URI.create("mock:///")
}

class FsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.core.Fs

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("withLock release is ownership-checked: a lock replaced mid-run " +
       "(lease takeover) is LEFT for its new holder, never deleted " +
       "(ADVICE r13)") {
    val lock = s"${tmp("fs_own")}/_delta_lock"
    Fs.withLock(spark, lock, "noop") {
      // simulate a lease claimer taking the lock over mid-run: our file
      // is replaced by another writer's
      Fs.removeLock(spark, lock)
      assert(Fs.tryCreateLock(spark, lock,
        s"owner=takeover-writer ts=${System.currentTimeMillis}"))
      1
    }
    // the old finally-path unconditionally deleted whatever lock file was
    // present — the new holder's lock must survive our release
    val payload = Fs.readSmall(spark, lock)
    assert(payload.exists(_.contains("takeover-writer")),
      s"release deleted another writer's lock: $payload")
    Fs.removeLock(spark, lock)
  }

  test("tryClaimRename consumes the src: of N racing stale-lock " +
       "claimers exactly ONE wins (ADVICE r13 TOCTOU)") {
    val d = tmp("fs_claim")
    val lock = s"$d/_delta_lock"
    assert(Fs.tryCreateLock(spark, lock, "owner=crashed ts=1"))
    assert(Fs.tryClaimRename(spark, lock, s"$lock.stale-a"),
      "first claimer must win")
    assert(!Fs.tryClaimRename(spark, lock, s"$lock.stale-b"),
      "second claimer must lose: the src was consumed by the first")
    assert(Fs.readSmall(spark, s"$lock.stale-a").contains("owner=crashed ts=1"))
    assert(!Fs.exists(spark, lock))
  }

  test("stale-lock takeover under a lease goes through claim-by-rename " +
       "and releases cleanly; a malformed ts= payload degrades to 'age " +
       "unknown' instead of throwing (ADVICE r13)") {
    val d = tmp("fs_lease")
    val lock = s"$d/_delta_lock"
    assert(Fs.tryCreateLock(spark, lock,
      s"owner=crashed ts=${System.currentTimeMillis - 60_000L}"))
    val r = Fs.withLock(spark, lock, "re-run", leaseMs = 30_000L) { 42 }
    assert(r == 42)
    assert(!Fs.exists(spark, lock), "takeover leaked the lock")
    // no tombstone leaked either
    val leftovers = new java.io.File(d).listFiles().map(_.getName).toSeq
    assert(!leftovers.exists(_.contains("stale")),
      s"takeover leaked a tombstone: $leftovers")
    // malformed timestamp: the loud holder-naming diagnostic survives
    assert(Fs.tryCreateLock(spark, lock, "owner=hand-edited ts=abc"))
    val e = intercept[IllegalStateException] {
      Fs.withLock(spark, lock, "re-run", leaseMs = 1L) { 1 }
    }
    assert(e.getMessage.contains("hand-edited"),
      s"holder not named: ${e.getMessage}")
    assert(e.getMessage.contains("age unknown"),
      s"malformed ts must read as 'age unknown': ${e.getMessage}")
    Fs.removeLock(spark, lock)
  }

  test("capability probe: a scheme without atomic create/rename is " +
       "REFUSED naming the weakened guarantees, waivable by conf, " +
       "extendable via spark.graft.atomicSchemes (VERDICT r13 #2)") {
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[MockNonAtomicFileSystem].getName)
    val dir = s"mock://${tmp("fs_probe")}"
    assert(Fs.atomicStore(spark, "/any/local/path"),
      "file:// must count as atomic")
    assert(!Fs.atomicStore(spark, dir))
    val e = intercept[IllegalStateException] {
      Fs.requireAtomicStore(spark, dir, "specProbe")
    }
    // the refusal must OFFER the create-only admission path (VERDICT
    // r14 #1), not only the waiver
    for (must <- Seq("'mock'", "lock", "createOnlySchemes",
                     "allowNonAtomicStore", "specProbe"))
      assert(e.getMessage.contains(must),
        s"probe message must name $must: ${e.getMessage}")
    // the lock protocol itself refuses on such a store
    val e2 = intercept[IllegalStateException] {
      Fs.withLock(spark, s"$dir/_delta_lock", "noop") { 1 }
    }
    assert(e2.getMessage.contains("'mock'"))
    // explicit waiver: proceeds (loud warning on stderr)
    spark.conf.set("spark.graft.allowNonAtomicStore", "true")
    try Fs.requireAtomicStore(spark, dir, "specProbe")
    finally spark.conf.unset("spark.graft.allowNonAtomicStore")
    // a deployment that KNOWS its store guarantees both primitives can
    // extend the trusted set instead of waiving the check
    spark.conf.set("spark.graft.atomicSchemes", "weird, mock")
    try assert(Fs.atomicStore(spark, dir))
    finally spark.conf.unset("spark.graft.atomicSchemes")
    assert(!Fs.atomicStore(spark, dir))
    // a store guaranteeing only conditional-PUT create is admitted
    // FIRST-CLASS via createOnlySchemes: probe passes, full-atomic stays
    // false (so the lock takeover uses the create-only election there)
    spark.conf.set("spark.graft.createOnlySchemes", "mock")
    try {
      assert(Fs.createOnlyStore(spark, dir))
      assert(!Fs.atomicStore(spark, dir))
      Fs.requireAtomicStore(spark, dir, "specProbe") // no throw
    } finally spark.conf.unset("spark.graft.createOnlySchemes")
    assert(!Fs.createOnlyStore(spark, dir))
  }

  test("withLock under contention: of N simultaneous writers exactly ONE " +
       "enters, the rest fail loudly naming the holder, and the lock is " +
       "clean afterwards") {
    val lock = s"${tmp("fs_race")}/_delta_lock"
    val entered = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        barrier.await()
        try Fs.withLock(spark, lock, "retry") {
          entered.incrementAndGet()
          Thread.sleep(150) // hold long enough that every loser collides
          ()
        } catch {
          case e: IllegalStateException =>
            assert(e.getMessage.contains("single-writer"), e.getMessage)
            failed.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(entered.get() == 1, s"${entered.get()} writers entered")
    assert(failed.get() == 7, s"${failed.get()} writers failed")
    assert(!Fs.exists(spark, lock), "winner leaked the lock")
  }

  test("scheme-list conf parsing edges: empty string, whitespace-only, " +
       "stray commas and mixed case (VERDICT r14 #9)") {
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[MockNonAtomicFileSystem].getName)
    val dir = s"mock://${tmp("fs_parse")}"
    def withConf(key: String, v: String)(f: => Unit): Unit = {
      spark.conf.set(key, v)
      try f finally spark.conf.unset(key)
    }
    // empty / whitespace-only / bare commas: no schemes admitted, no throw
    for (v <- Seq("", "   ", ",", " , ,, "))
      withConf("spark.graft.atomicSchemes", v) {
        assert(!Fs.atomicStore(spark, dir),
          s"'$v' must admit no scheme")
      }
    // mixed case + padding normalize to the lowercase scheme
    withConf("spark.graft.atomicSchemes", "  MoCk , WEIRD ") {
      assert(Fs.atomicStore(spark, dir))
    }
    withConf("spark.graft.createOnlySchemes", "\tMOCK\t") {
      assert(Fs.createOnlyStore(spark, dir))
      assert(!Fs.atomicStore(spark, dir),
        "createOnlySchemes must not grant full-atomic trust")
    }
  }

  // ---------------- create-only publish protocol (VERDICT r14 #1) ------

  test("create-only pointer: publish is an exclusive marker create, " +
       "readers resolve max-N from a listing, racing publishers of the " +
       "SAME version get exactly one winner") {
    val dir = tmp("fs_ptr")
    assert(Fs.readPointer(spark, dir).isEmpty, "empty dir has no version")
    assert(Fs.readPointer(spark, dir).isEmpty)
    Fs.writePointer(spark, dir, 0L)
    assert(Fs.readPointer(spark, dir).contains(0L))
    Fs.writePointer(spark, dir, 1L)
    assert(Fs.readPointer(spark, dir).contains(1L))
    assert(Fs.readPointer(spark, dir).nonEmpty)
    // racing publishers of the same version: second create must FAIL
    // LOUDLY (single-writer discipline broken upstream), never silently
    // absorb — on an object store a silent overwrite is exactly the torn
    // publish the protocol exists to prevent
    val e = intercept[IllegalStateException] { Fs.writePointer(spark, dir, 1L) }
    assert(e.getMessage.contains("CURRENT.v1"))
    assert(e.getMessage.contains("did NOT land"))
    assert(Fs.readPointer(spark, dir).contains(1L))
    // genuinely concurrent: N threads all publishing DISTINCT next
    // versions (the withLock contract) all land; reader sees the max
    val threads = (2L to 9L).map { v =>
      new Thread(() => Fs.writePointer(spark, dir, v))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Fs.readPointer(spark, dir).contains(9L))
    // prune behind the window: markers < 7 go
    Fs.prunePointers(spark, dir, keepBelow = 7L)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set("CURRENT.v7", "CURRENT.v8", "CURRENT.v9"),
      s"got $left")
    assert(Fs.readPointer(spark, dir).contains(9L))
    // prune with an absurd window NEVER deletes the newest marker
    Fs.prunePointers(spark, dir, keepBelow = 100L)
    assert(Fs.readPointer(spark, dir).contains(9L),
      "prune must never strand the artifact pointer-less")
  }

  test("create-only pointer: a torn-listing reader (newest marker not " +
       "yet visible) resolves the PREVIOUS complete version; a crash " +
       "between state-file writes and the marker create leaves the " +
       "pointer untouched") {
    val dir = tmp("fs_torn")
    Fs.writePointer(spark, dir, 0L)
    Fs.writePointer(spark, dir, 1L)
    // crash window: a writer fully wrote meta_v2/seen_bloom_v2 but died
    // BEFORE creating CURRENT.v2 — orphan files no reader resolves
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/meta_v2"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/meta_v2/part-0"), Array[Byte](1))
    assert(Fs.readPointer(spark, dir).contains(1L),
      "orphan state files must not move the pointer")
    // torn listing: a reader whose listing raced the v1 publish sees only
    // CURRENT.v0 — it resolves version 0, whose files the retention
    // window guarantees are still complete (old snapshot, never torn)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/CURRENT.v1"))
    assert(Fs.readPointer(spark, dir).contains(0L))
  }

  test("stale-lock takeover on a create-only store (no atomic rename) " +
       "elects one winner through the claim-marker create and releases " +
       "cleanly (VERDICT r14 #1)") {
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[MockNonAtomicFileSystem].getName)
    val local = tmp("fs_coelect")
    val dir = s"mock://$local"
    val lock = s"$dir/_delta_lock"
    spark.conf.set("spark.graft.createOnlySchemes", "mock")
    try {
      assert(Fs.tryCreateLock(spark, lock,
        s"owner=crashed ts=${System.currentTimeMillis - 60_000L} nonce=x"))
      val r = Fs.withLock(spark, lock, "re-run", leaseMs = 30_000L) { 42 }
      assert(r == 42)
      assert(!Fs.exists(spark, lock), "takeover leaked the lock")
      val leftovers = new java.io.File(local).listFiles()
        .map(_.getName).toSeq
      assert(!leftovers.exists(_.contains("claim")),
        s"takeover leaked a claim marker: $leftovers")
      // an orphaned claim marker from a CRASHED winner expires under the
      // lease: the next claimer removes it and still takes the lock over
      assert(Fs.tryCreateLock(spark, lock,
        s"owner=crashed2 ts=${System.currentTimeMillis - 60_000L} nonce=y"))
      val seen = Fs.readSmall(spark, lock).get
      val sha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(seen.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(Fs.tryCreateLock(spark, s"$lock.claim-$sha",
        s"owner=dead-winner ts=${System.currentTimeMillis - 60_000L}"))
      val r2 = Fs.withLock(spark, lock, "re-run", leaseMs = 30_000L) { 7 }
      assert(r2 == 7)
      assert(!Fs.exists(spark, lock))
    } finally spark.conf.unset("spark.graft.createOnlySchemes")
  }

  test("writePointer ABORTS the publish when the delta lock was lost " +
       "mid-critical-section (VERDICT r15 #3): the create-only election's " +
       "residual two-writer window now ends at the marker create, not at " +
       "lock acquisition") {
    val dir = tmp("fs_pubcheck")
    val lock = s"$dir/_delta_lock"
    // the EXACT residual interleaving, staged from the loser's seat: a
    // takeover winner W re-read the stale payload, then the holder H
    // (this thread) released and re-acquired inside W's window, then W's
    // delete consumed H's FRESH lock and W created its own — both H and
    // W now believe they hold the lock. H reaches its publish: the lock
    // on disk carries W's payload, so H must abort BEFORE creating the
    // marker instead of double-writing the version W is about to write.
    val e = intercept[IllegalStateException] {
      Fs.withLock(spark, lock, "noop") {
        // simulate W's delete+create landing mid-run: H's lock file is
        // replaced by W's
        Fs.removeLock(spark, lock)
        assert(Fs.tryCreateLock(spark, lock,
          s"owner=election-winner ts=${System.currentTimeMillis} nonce=w"))
        Fs.writePointer(spark, dir, 0L)
      }
    }
    assert(e.getMessage.contains("ABORTING publish"), e.getMessage)
    assert(!Fs.exists(spark, s"$dir/CURRENT.v0"),
      "the loser's marker must never land")
    assert(Fs.readPointer(spark, dir).isEmpty, "nothing was published")
    // W's lock survives H's release path (ownership-checked release)
    assert(Fs.readSmall(spark, lock).exists(_.contains("election-winner")))
    Fs.removeLock(spark, lock)
    // and with the lock STILL OURS the same publish goes through — the
    // re-check gates on ownership, not on being inside withLock
    Fs.withLock(spark, lock, "noop") { Fs.writePointer(spark, dir, 0L) }
    assert(Fs.readPointer(spark, dir).contains(0L))
    // a lock held for some OTHER artifact dir never gates this publish
    val other = tmp("fs_pubcheck_other")
    Fs.withLock(spark, s"$other/_delta_lock", "noop") {
      Fs.writePointer(spark, dir, 1L)
    }
    assert(Fs.readPointer(spark, dir).contains(1L))
  }

  test("prunePointers sweeps lock-election debris older than the TTL " +
       "(ADVICE r15: a claim marker orphaned by a crashed winner of an " +
       "older lock instance leaked forever)") {
    val dir = tmp("fs_debris")
    Fs.writePointer(spark, dir, 0L)
    val oldTs = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - Fs.LockDebrisTtlMs - 3_600_000L)
    for (n <- Seq("_delta_lock.claim-deadbeef", "_delta_lock.stale-0000")) {
      val p = java.nio.file.Paths.get(s"$dir/$n")
      java.nio.file.Files.write(p, "owner=crashed ts=1".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(p, oldTs)
    }
    // a YOUNG claim marker (a live election could be mid-flight) stays
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_delta_lock.claim-live"),
      "owner=racing ts=now".getBytes("UTF-8"))
    Fs.prunePointers(spark, dir, keepBelow = 0L)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set("CURRENT.v0", "_delta_lock.claim-live"),
      s"expected expired debris swept, live claim kept: $left")
    // the sweep also runs on a dir with NO markers yet (debris can
    // orphan before the first publish) — and still never strands state
    val dir2 = tmp("fs_debris2")
    val p2 = java.nio.file.Paths.get(s"$dir2/_delta_lock.stale-1111")
    java.nio.file.Files.write(p2, "x".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(p2, oldTs)
    Fs.prunePointers(spark, dir2, keepBelow = 100L)
    assert(new java.io.File(dir2).listFiles().isEmpty,
      "pre-publish debris must be swept too")
  }

  test("VacuumStats.delete counts a dropped path even when the size " +
       "summary fails transiently — Zero only for a failed/raced-away " +
       "delete (ADVICE r15: callers gate on pathsDropped > 0)") {
    val d = tmp("fs_vacstats")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$d/gone"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$d/gone/f"), Array[Byte](1, 2))
    val raw = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getContentSummary(f: org.apache.hadoop.fs.Path)
          : org.apache.hadoop.fs.ContentSummary =
        throw new java.io.IOException("transient store error")
    }
    raw.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val p = new org.apache.hadoop.fs.Path(s"$d/gone")
    val s = graft.core.VacuumStats.delete(raw, p)
    assert(s.pathsDropped == 1L, s"dropped path not counted: $s")
    assert(s.filesReclaimed == 0L && s.bytesReclaimed == 0L,
      s"unknown size must report 0, never a phantom: $s")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$d/gone")))
    // a delete that finds nothing (raced away) still reports Zero
    assert(graft.core.VacuumStats.delete(raw, p) == graft.core.VacuumStats.Zero)
  }
}
