package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling-exponent probe (the r16-verdict ask): correctness is
  * proven at sf0.01 and the 100 TB story rests on plan reading — this tool
  * adds the measured slope. It explodes sf0.1 by ×A and ×B (default 8/32)
  * into a temp dir, times the slowest bench queries plus every
  * [[ExplainAudit.QuadraticAllowlist]] entry at both sizes, and reports the
  * per-query scaling exponent `log(tB/tA) / log(B/A)`. A query whose
  * exponent materially exceeds 1 either gets a plan fix or a named-knob
  * justification in SCALE.md — "looked linear when I read the plan" no
  * longer counts.
  *
  * THE EXPLOSION IS A REMAP, NOT A ROW COPY. Naively unioning N copies of
  * sf0.1 would be a degenerate scale-up in both directions at once:
  *  - row-identity keys (o_orderkey, doc_id) would gain N duplicates each,
  *    so every PK join fans out N×N and every LINEAR query looks quadratic;
  *  - duplicate text/vectors would collide into N-sized LSH/IVF clusters,
  *    so pair-bounded dedup operators produce C(N,2) pairs per document —
  *    output legitimately quadratic in an input shape real corpora don't
  *    have.
  * Instead each copy c gets the REAL 10¹²-row shape per column class:
  *  - identity/FK keys are offset by c·(max+1) per key family — NDV grows
  *    with the rows, joins stay 1:N (orderkey, custkey, suppkey, partkey,
  *    event_id, user_id, doc_id, vec_id);
  *  - domain columns (flags, brands, dates, event_type) are untouched —
  *    the key domain stays put while groups grow, which is exactly the
  *    group-quadratic stress [[ExplainAudit.auditQuadraticSelfJoin]] hunts;
  *  - document text gets a per-copy Caesar rotation of the letters: length,
  *    word structure and punctuation stats are preserved (quality metrics
  *    keep their cost) but shingles decorrelate across copies, so duplicate
  *    CLUSTER COUNT grows linearly while cluster SIZE stays put — the
  *    realistic corpus growth shape (within-copy duplicates replicate);
  *  - embedding vectors get a per-copy coordinate rotation (an orthogonal
  *    map: norms and within-copy geometry exact, cross-copy cosine drops to
  *    the autocorrelation floor) — near-dup survivor sets scale linearly;
  *  - nation/region are dimensions: copied verbatim, 25/5 rows at any SF.
  *
  * Usage: `runMain graft.tools.ScaleProbe [nQueries] [factorA,factorB]
  * [extraQuery ...]`. Writes `bench/scale_probe.json` and prints the
  * SCALE.md-ready markdown table. Never touches `/root/testdata`; exploded
  * data lands under `/tmp/graft-scale/` and is reused if already present
  * (delete the dir to force a rebuild).
  */
object ScaleProbe {

  /** Key families to offset per copy: table -> (columns sharing the family's
    * offset). The offset base is max(primary column)+1 measured at source. */
  private val keyFamilies: Seq[(String, String, Seq[(String, String)])] = Seq(
    // (family primary table, primary column, all (table, column) members)
    ("orders", "o_orderkey", Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")),
    ("customer", "c_custkey", Seq("customer" -> "c_custkey", "orders" -> "o_custkey")),
    ("supplier", "s_suppkey", Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey")),
    ("part", "p_partkey", Seq("part" -> "p_partkey", "lineitem" -> "l_partkey")),
    ("events", "event_id", Seq("events" -> "event_id")),
    ("events", "user_id", Seq("events" -> "user_id")),
    ("documents", "doc_id", Seq("documents" -> "doc_id")),
    ("embeddings", "vec_id", Seq("embeddings" -> "vec_id")),
  )

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  /** Per-copy letter rotation: identity at c=0 so copy 0 IS the source. */
  private def caesar(text: org.apache.spark.sql.Column, c: Int) = {
    val k = c % 26
    if (k == 0) text
    else translate(text, lower + upper,
      lower.drop(k) + lower.take(k) + upper.drop(k) + upper.take(k))
  }

  def explode(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val out = Paths.get(outDir)
    if (Files.exists(out.resolve("_DONE"))) return
    Files.createDirectories(out)
    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    // family offsets measured once from the source
    val offsets: Map[(String, String), Long] = keyFamilies.flatMap {
      case (tbl, keyCol, members) =>
        val mx = src(tbl).agg(max(col(keyCol))).head.getLong(0) + 1L
        members.map(m => m -> mx)
    }.toMap

    for (t <- Seq("region", "nation"))
      src(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    val facts = Seq("customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    for (t <- facts) {
      val base = src(t)
      val copies = (0 until factor).map { c =>
        var d: DataFrame = base
        for (((tbl, colName), off) <- offsets if tbl == t)
          d = d.withColumn(colName, col(colName) + lit(c.toLong * off))
        if (t == "documents")
          d = d.withColumn("text", caesar(col("text"), c))
        if (t == "embeddings" && c > 0)
          // orthogonal coordinate rotation by c positions: norms and
          // within-copy geometry exact, cross-copy cosine decorrelated
          d = d.withColumn("embedding", expr(
            s"""transform(sequence(0, size(embedding) - 1),
               | i -> element_at(embedding,
               |      pmod(i + $c, size(embedding)) + 1))""".stripMargin))
        d
      }
      val parts = math.max(spark.sparkContext.defaultParallelism,
        base.rdd.getNumPartitions * factor / 4)
      copies.reduce(_ unionByName _).repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    Files.write(out.resolve("_DONE"), Array.emptyByteArray)
  }

  /** Slowest-N query names from the last bench artifact (regex-parsed: the
    * artifact is our own fixed writer format, a JSON lib adds nothing). */
  private[tools] def slowestFromBench(artifact: String, n: Int)
      : Seq[String] = {
    val re = """"(q[0-9][^"]*)": \{"median_sec":([0-9.]+)""".r
    re.findAllMatchIn(artifact).map(m => (m.group(1), m.group(2).toDouble))
      .toSeq.sortBy(-_._2).take(n).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val nSlow = args.lift(0).map(_.toInt).getOrElse(12)
    val factors = args.lift(1).getOrElse("8,32").split(",").map(_.toInt).toSeq
    require(factors.size == 2 && factors(1) > factors(0),
      "expected two ascending factors, e.g. 8,32")
    val extra = args.drop(2).toSeq
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()

    val lastRun = new String(Files.readAllBytes(
      Paths.get("bench/last_run.json")), StandardCharsets.UTF_8)
    val queries = (slowestFromBench(lastRun, nSlow) ++
      ExplainAudit.QuadraticAllowlist.toSeq.sorted ++ extra)
      .distinct.filter(graft.SparkEntry.queries.contains)
    println(s"probing ${queries.size} queries at x${factors.mkString(", x")}")

    val dirs = factors.map { f =>
      val d = s"/tmp/graft-scale/x$f"
      val t0 = System.nanoTime()
      explode(spark, srcDir, d, f)
      println(f"  explode x$f ready (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      f -> d
    }

    def timeOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      (System.nanoTime() - t0) / 1e9
    }

    val logRatio = math.log(factors(1).toDouble / factors(0))
    val rows = queries.map { q =>
      // one x1 warm pass (classload/codegen), then best-of-2 per factor:
      // min, not median — the cleanest estimate of intrinsic cost under
      // possible machine contention
      timeOnce(q, srcDir)
      val ts = dirs.map { case (f, d) =>
        f -> math.min(timeOnce(q, d), timeOnce(q, d))
      }
      val (tA, tB) = (ts.head._2, ts.last._2)
      val exp = math.log(tB / tA) / logRatio
      println(f"  $q%-32s x${factors.head}: $tA%7.2f s  " +
        f"x${factors.last}: $tB%7.2f s  exponent: $exp%5.2f")
      (q, tA, tB, exp)
    }

    // MERGE, don't clobber: a focused re-probe (e.g. re-measuring one
    // suspect query in a fresh JVM — the isolation discipline SCALE.md
    // documents) refreshes ONLY its own entries; every other committed
    // entry survives verbatim. Entries parse with the same regex the
    // ScaleProbeSpec gate uses, so the merged artifact is exactly what
    // the gate reads. A full run (every entry re-probed) still replaces
    // the artifact wholesale.
    val artifact = Paths.get("bench/scale_probe.json")
    val fresh = rows.map(_._1).toSet
    val keptPrev: Seq[String] =
      if (!Files.exists(artifact)) Nil
      else {
        val prev = new String(Files.readAllBytes(artifact),
          StandardCharsets.UTF_8)
        """"(q[0-9][^"]*)": \{[^}]*\}""".r.findAllMatchIn(prev)
          .filterNot(m => fresh.contains(m.group(1)))
          .map(m => "    " + m.matched).toSeq
      }
    val freshJson = rows.map { case (q, a, b, e) =>
      f"""    "$q": {"t${factors.head}": $a%.3f, "t${factors.last}": $b%.3f, "exponent": $e%.3f}"""
    }
    val json = (freshJson ++ keptPrev).mkString(
      "{\n  \"base_sf_dir\": \"" + srcDir + "\",\n  \"factors\": [" +
        factors.mkString(", ") + "],\n  \"queries\": {\n",
      ",\n", "\n  }\n}\n")
    Files.write(artifact, json.getBytes(StandardCharsets.UTF_8))

    println("\nSCALE.md table:\n")
    println(s"| query | t(x${factors.head}) | t(x${factors.last}) | exponent |")
    println("|---|---|---|---|")
    rows.foreach { case (q, a, b, e) =>
      println(f"| $q | $a%.2f s | $b%.2f s | $e%.2f |")
    }
    spark.stop()
  }
}
