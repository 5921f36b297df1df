package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional 3rd
  * arg (comma-separated names) restricts the dump to those queries — a
  * local iteration aid; the driver always runs the 2-arg full form.
  *
  * BOTH POSTURES IN ONE DRIVER RUN (round 18, verdict task 2): the
  * benches serve one-time derived artifacts (ANN indexes, ranked frames,
  * graph edges, gram frames, dedup pair/base frames) from the
  * content-stamped [[FixtureStore]], while a plain Verify dump rebuilds
  * them inline — so the driver's CORRECTNESS artifact used to gate only
  * the inline halves, with the served twin a builder-side companion
  * (CORRECTNESS_r17_fixtures.json). The plain run now gates both: after
  * the inline dump it tears down the session memos, obtains every
  * fixture, re-runs each posture-sensitive query on its SERVED path, and
  * asserts bit-exact parity (exceptAll both ways) against the inline
  * parquet just dumped. Inline is DuckDB-gated directly; served is gated
  * transitively through the parity. Any divergence exits nonzero — the
  * driver's artifact cannot silently bless one posture. Opt-out:
  * GRAFT_VERIFY_BOTH=0 (iteration speed); GRAFT_VERIFY_FIXTURES=1 keeps
  * its meaning (served-only dump, for tools/verify_fixtures.sh).
  */
object Verify {

  /** The queries whose PLAN changes with a published fixture (they call
    * FixtureStore.peek, or read a table the obtain writes): the memo
    * families' registered consumers plus the four peek sites outside
    * [[SessionMemos]]. VerifyParitySpec cross-checks every name against
    * the registry so a rename fails loudly.
    */
  val posturedQueries: Seq[String] =
    (SessionMemos.families.flatMap(_.consumers) ++ Seq(
      "dedup_semantic", "sample_prune_proto", "dedup_incr_index",
      "ann_index_persist")).distinct.sorted

  private def obtainAll(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit = {
    operators.Similarity.ivfPqIndexWrite(spark, sfDir)
    operators.Similarity.rankedTopKWrite(spark, sfDir)
    operators.Similarity.semanticModelWrite(spark, sfDir)
    operators.Graph.edgeFixtureWrite(spark, sfDir)
    operators.Dedup.baseIndexWrite(spark, sfDir)
    operators.Dedup.pairFixtureWrite(spark, sfDir)
    operators.TextAnalysis.gramFixtureWrite(spark, sfDir)
    operators.TextAnalysis.bigramFixtureWrite(spark, sfDir)
    Scratch.release(spark)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(a, b)        => (a, b, None)
      case Array(a, b, names) => (a, b, Some(names.split(",").toSet))
    }
    val spark = GraftSession.build("graft-verify", Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // GRAFT_VERIFY_FIXTURES=1: obtain every persisted fixture BEFORE the
    // dump, so the queries run their FIXTURE-SERVED paths under the full
    // DuckDB hash gate (tools/verify_fixtures.sh's posture).
    val servedOnly = sys.env.get("GRAFT_VERIFY_FIXTURES").contains("1")
    if (servedOnly) obtainAll(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // per-query scratch persists die with the query (Scratch scaladoc)
        Scratch.release(spark)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fixture-posture parity pass (scaladoc above): served result must be
    // bit-identical to the inline parquet the driver is about to gate
    val both = !servedOnly && !sys.env.get("GRAFT_VERIFY_BOTH").contains("0")
    var parityFailed = false
    if (both) {
      // the inline pass left session memos resident — tear them down so
      // the re-run rebuilds THROUGH the store (peek hits), the posture
      // the benches run
      SessionMemos.releaseSession(spark)
      obtainAll(spark, sfDir)
      val checked = posturedQueries.filter(n => only.forall(_.contains(n)))
      val verdicts = checked.map { name =>
        val status = try {
          val served = SparkEntry.queries(name)(spark, sfDir)
          val inline = spark.read.parquet(s"$outDir/$name")
          val extra = served.exceptAll(inline).count()
          val missing = inline.exceptAll(served).count()
          Scratch.release(spark)
          if (extra == 0 && missing == 0) "match"
          else s"mismatch: served has $extra extra / $missing missing rows"
        } catch { case e: Throwable =>
          Scratch.release(spark); s"err: ${e.getMessage}"
        }
        if (status != "match") {
          parityFailed = true
          System.err.println(s"[verify] FIXTURE-POSTURE $name $status")
        }
        name -> status
      }
      Files.writeString(Paths.get(s"$outDir/fixture_parity.json"),
        verdicts.map { case (k, v) => s"${q(k)}: ${q(v)}" }
          .mkString("{", ",", "}"))
      System.err.println(
        s"[verify] fixture-posture parity: ${verdicts.count(_._2 == "match")}/${verdicts.size} match")
    }
    // end-of-session memo teardown (pair frames, component labels,
    // bucketed-table readiness) — see Dedup.releaseSession
    SessionMemos.releaseSession(spark)
    spark.stop()
    // a posture divergence must fail the DRIVER-VISIBLE run, not hide in
    // stderr — the artifact gates both postures or it gates neither
    if (parityFailed) sys.exit(2)
  }
}
