package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The query workloads' fixed lists and the reference result hashes.
  *
  * The tables are generated once from [[DataSeed]], so every run sees the
  * same data and a query's order-independent result hash (xxhash64 of
  * each full row, XOR-folded) is a fixed reference, recorded with
  * `run.py --record-reference` and kept in [[RefFile]].
  */
object QueryLists {
  val DataSeed = 42L

  /** Scale factor of the query workloads' tables. */
  val Sf = 0.001

  /** One query per family: TPC shapes, offload/validate shapes, dedup,
    * graph and similarity search. q27 and q303 build cross-query
    * artifacts. */
  val Warm: Seq[String] = Seq("q01_pricing_summary", "q11_agg_validate",
    "q13_boundary_hwm", "q185_disjunctive_revenue", "q27_dedup_jaccard",
    "q303_truss_support", "q33_cosine_topk")

  /** The queries of [[Warm]] that build cross-query artifacts: their
    * set-up runs time the builds, their timed runs the lookups. */
  val Builds: Seq[String] = Seq("q27_dedup_jaccard", "q303_truss_support")

  val RefFile = "perfbench/reference_hashes.tsv"

  private def lines: Seq[Array[String]] =
    if (!Files.exists(Paths.get(RefFile))) Nil
    else new String(Files.readAllBytes(Paths.get(RefFile)),
      StandardCharsets.UTF_8).linesIterator
      .filterNot(l => l.isBlank || l.startsWith("#")).map(_.split('\t'))
      .toSeq

  /** query -> hash at scale factor `sf`. */
  def reference(sf: Double): Map[String, String] =
    lines.collect { case Array(s, q, h) if s.toDouble == sf => q -> h }.toMap

  /** Store `observed` as the references at `sf`, keeping the others. */
  def record(sf: Double, observed: Map[String, String]): Unit = {
    val kept = lines.filterNot(l => l(0).toDouble == sf &&
      observed.contains(l(1))).map(_.mkString("\t"))
    val fresh = observed.toSeq.sorted.map { case (q, h) => s"$sf\t$q\t$h" }
    Files.write(Paths.get(RefFile),
      (("# sf\tquery\txxhash64 bit_xor of result rows" +: (kept ++ fresh))
        .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
  }
}
