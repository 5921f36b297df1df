package graft

import java.nio.file.{Files, Paths}

/** The cross-session fixture store contract: one build per corpus version,
  * rediscovery across processes by content stamp, rebuild on data change,
  * and stale-version reaping. Pure filesystem tests — the store itself
  * never runs Spark (builders do; here the builder just writes a marker).
  */
class FixtureStoreSpec extends SparkSpec {

  /** A fake corpus dir holding one "table" file the stamp walks. */
  private def corpus(tag: String): String = {
    val d = Paths.get(suiteTempDir(s"graft_fxspec_$tag"))
    Files.writeString(d.resolve("documents.parquet"), "rows")
    d.toString
  }

  // the store roots and pins keyed on these corpora go with them
  override def afterAll(): Unit =
    try {
      val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_fx")
      Seq(base, base.resolve(".pins")).filter(Files.isDirectory(_)).foreach { d =>
        val s = Files.list(d)
        try s.filter(_.getFileName.toString.contains("_graft_fxspec_"))
          .forEach(p => SparkSpec.deleteRecursively(p))
        finally s.close()
      }
    } finally super.afterAll()

  test("one build per corpus version; memo and on-disk rediscovery both skip the builder") {
    val dir = corpus("reuse")
    var builds = 0
    def get(): String =
      FixtureStore.obtain("fxspec", dir, Seq("documents"), getClass) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), s"build$builds")
      }
    val r1 = get()
    assert(builds === 1)
    assert(Files.readString(Paths.get(r1, "artifact")) === "build1")
    // same process: memo hit
    assert(get() === r1)
    assert(builds === 1)
    // fresh process (memo dropped): the on-disk dir is stamp-valid and
    // must be reused WITHOUT building — this is the cross-session reuse
    // the ×100 fixture seconds depend on
    FixtureStore.dropMemo("fxspec", dir)
    assert(FixtureStore.peek("fxspec", dir).isEmpty)
    val r2 = get()
    assert(r2 === r1)
    assert(builds === 1, "stamp-valid dir must be served, not rebuilt")
    assert(FixtureStore.peek("fxspec", dir).contains(r1))
  }

  test("data change flips the stamp: rebuild; aged stale siblings reaped, fresh ones spared") {
    val dir = corpus("stale")
    var builds = 0
    def get(): String =
      FixtureStore.obtain("fxspec2", dir, Seq("documents"), getClass) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), s"build$builds")
      }
    val r1 = get()
    assert(builds === 1)
    // mutate the source table (size + mtime both move)
    Files.writeString(Paths.get(dir, "documents.parquet"), "rows-v2-longer")
    FixtureStore.dropMemo("fxspec2", dir)
    val r2 = get()
    assert(builds === 2, "changed data must rebuild")
    assert(r2 !== r1, "new stamp, new dir")
    assert(Files.readString(Paths.get(r2, "artifact")) === "build2")
    // the FRESH stale sibling survives the reap (grace window: a young
    // dir may belong to a concurrently running process on another code
    // version that is still reading it)
    assert(Files.exists(Paths.get(r1)),
      "a stale sibling inside the grace window must be spared")
    // age r1 past the grace window — but THIS process pinned it at
    // obtain time and is alive, so the reap must spare it: this is the
    // round-15 advice scenario (a live long-running session on the old
    // version still reads the root through its in-process memo)
    def ageOut(p: String): Unit =
      Files.setLastModifiedTime(Paths.get(p),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    ageOut(r1)
    Files.writeString(Paths.get(dir, "documents.parquet"), "rows-v3-even-longer")
    FixtureStore.dropMemo("fxspec2", dir)
    val r3 = get()
    assert(builds === 3)
    assert(r3 !== r2)
    assert(Files.exists(Paths.get(r1)),
      "an aged stale sibling with a LIVE pin must be spared")
    // drop r1's pins (the pinning process is gone) and age it again:
    // now the next build reaps it
    val base = Paths.get(r1).getParent
    val r1Name = Paths.get(r1).getFileName.toString
    val pins = Files.list(base.resolve(".pins"))
    try pins.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.startsWith(r1Name + ".")) Files.delete(p)
    } finally pins.close()
    ageOut(r1)
    Files.writeString(Paths.get(dir, "documents.parquet"), "rows-v4-longer-still")
    FixtureStore.dropMemo("fxspec2", dir)
    val r4 = get()
    assert(builds === 4)
    assert(r4 !== r3)
    assert(!Files.exists(Paths.get(r1)),
      "an aged stale sibling with no live pin must be reaped at the next build")
  }

  test("extra stamp lines (resolved knobs) key the fixture like data does") {
    val dir = corpus("knobs")
    var builds = 0
    def get(knob: Int): String =
      FixtureStore.obtain("fxspec6", dir, Seq("documents"), getClass,
        extra = Seq(s"knob:geometry=$knob")) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), s"geom$knob")
      }
    val r1 = get(8)
    FixtureStore.dropMemo("fxspec6", dir)
    // same knob, fresh process: reuse
    assert(get(8) === r1)
    assert(builds === 1)
    FixtureStore.dropMemo("fxspec6", dir)
    // different knob: a DIFFERENT fixture — never served the old content
    val r2 = get(16)
    assert(builds === 2)
    assert(r2 !== r1)
    assert(Files.readString(Paths.get(r2, "artifact")) === "geom16")
  }

  test("publication is all-or-nothing: a failed build leaves no serveable dir") {
    val dir = corpus("fail")
    var attempts = 0
    def get(fail: Boolean): String =
      FixtureStore.obtain("fxspec3", dir, Seq("documents"), getClass) { root =>
        attempts += 1
        if (fail) sys.error("builder exploded mid-write")
        Files.writeString(Paths.get(root, "artifact"), "ok")
      }
    intercept[RuntimeException] { get(fail = true) }
    FixtureStore.dropMemo("fxspec3", dir)
    // the failed attempt must not have published: the retry builds
    val r = get(fail = false)
    assert(attempts === 2)
    assert(Files.readString(Paths.get(r, "artifact")) === "ok")
  }

  test("concurrent obtains converge to one published root with the artifact intact") {
    // the in-process TrieMap memo may evaluate the builder more than once
    // under contention, and two processes can genuinely race — the
    // publish-by-atomic-rename contract must make every caller see ONE
    // immutable root regardless (losers discard their build). Simulate
    // with racing threads, each dropping the memo first so all of them
    // walk the filesystem path.
    val dir = corpus("race")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        FixtureStore.dropMemo("fxspec5", dir)
        val r = FixtureStore.obtain("fxspec5", dir, Seq("documents"),
          getClass) { root =>
          builds.incrementAndGet()
          // a slow build widens the race window
          Thread.sleep(50)
          Files.writeString(Paths.get(root, "artifact"), s"by-$i")
        }
        roots.add(r); ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(roots.size === 1, s"divergent roots: $roots")
    val root = roots.iterator().next()
    assert(Files.exists(Paths.get(root, "_GRAFT_STAMP")))
    // exactly one build PUBLISHED (whichever), its artifact whole
    val content = Files.readString(Paths.get(root, "artifact"))
    assert(content.startsWith("by-"), content)
    // no stranded .build dirs
    val base = Paths.get(root).getParent
    val leftover = {
      val s = Files.list(base)
      try {
        val b = scala.collection.mutable.Buffer.empty[String]
        val it = s.iterator()
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("fxspec5") && n.contains(".build.")) b += n
        }
        b.toList
      } finally s.close()
    }
    assert(leftover.isEmpty, s"stranded build dirs: $leftover")
  }

  test("a same-size, mtime-preserving rewrite still flips the stamp (content sample)") {
    // rsync -t / archive extraction / snapshot restore can rewrite a file
    // while preserving size AND mtime; the stamp's first+last-block hash
    // must see through that, because the Bench path serves fixtures
    // without the DuckDB hash gate behind it
    val dir = corpus("rewrite")
    var builds = 0
    def get(): String =
      FixtureStore.obtain("fxspec7", dir, Seq("documents"), getClass) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), s"b$builds")
      }
    val r1 = get()
    assert(builds === 1)
    val src = Paths.get(dir, "documents.parquet")
    val mtime = Files.getLastModifiedTime(src)
    Files.writeString(src, "sw0r") // same 4-byte length as "rows"
    Files.setLastModifiedTime(src, mtime)
    assert(Files.size(src) === 4)
    FixtureStore.dropMemo("fxspec7", dir)
    val r2 = get()
    assert(builds === 2, "content change behind identical size+mtime must rebuild")
    assert(r2 !== r1)
  }

  test("codeStampOverride keys the fixture instead of the default producer stamp") {
    val dir = corpus("override")
    var builds = 0
    def get(stamp: String): String =
      FixtureStore.obtain("fxspec8", dir, Seq("documents"), getClass,
        codeStampOverride = Some(stamp)) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), stamp)
      }
    val r1 = get("code:class:aaaa")
    FixtureStore.dropMemo("fxspec8", dir)
    assert(get("code:class:aaaa") === r1)
    assert(builds === 1, "same override stamp must serve")
    FixtureStore.dropMemo("fxspec8", dir)
    val r2 = get("code:class:bbbb")
    assert(builds === 2, "a changed override stamp must rebuild")
    assert(r2 !== r1)
    // the per-class stamp helper resolves real bytes for a real class
    val cs = FixtureStore.classContentStamp(classOf[FixtureStoreSpec])
    assert(cs.startsWith("code:class:") && !cs.endsWith("absent") &&
      !cs.endsWith("unknown"), cs)
  }

  test("absent source tables stamp as a stable state, not an error") {
    val dir = corpus("absent")
    var builds = 0
    def get(): String =
      FixtureStore.obtain("fxspec4", dir, Seq("documents", "no_such_table"),
        getClass) { root =>
        builds += 1
        Files.writeString(Paths.get(root, "artifact"), "ok")
      }
    val r1 = get()
    FixtureStore.dropMemo("fxspec4", dir)
    assert(get() === r1)
    assert(builds === 1)
  }
}
