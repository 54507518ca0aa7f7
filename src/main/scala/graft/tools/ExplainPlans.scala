package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dump formatted physical plans of the engine's key pipelines to one
  * markdown file (the repo keeps it as PLANS.md) for scale review:
  * filter/column pushdown reaching the parquet scans, broadcast joins where
  * a side is small, whole-stage codegen spans, no unexpected exchanges.
  *
  * Usage: runMain graft.tools.ExplainPlans <sfDir> <outFile>
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val outFile = args(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the key pipelines\n\n")
    val sfName = Paths.get(sf).getFileName
    sb.append(s"Generated by `graft.tools.ExplainPlans` (local[4], $sfName). Review\n")
    sb.append("criteria per plan: pushdown reaches the scan (PushedFilters /\n")
    sb.append("ReadSchema), small sides broadcast, codegen spans wide, exchanges\n")
    sb.append("only where the algorithm requires a repartition.\n")

    def dump(name: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
      spark.catalog.clearCache()
    }

    // 1. frontier pending scan with projection — pushdown check
    dump("frontier pending scan (S1/F1)",
      "Expect: `PushedFilters` containing the is_processed predicate analog and " +
        "`ReadSchema` pruned to the selected columns.",
      spark.read.parquet(s"$sf/documents.parquet")
        .filter(col("doc_id") % 8 =!= 0)
        .select("doc_id", "source"))

    // 2. narrow-shuffle scheduling round — the engine/bench path
    val pendingWide = graft.gen.Synthetic.frontier(spark, 5000, 4).toDF()
      .filter(!col("is_processed"))
    val seenNarrow = pendingWide.filter(col("url_hash") % 3 === 0).select("url_hash")
    val (nowNarrow, _) = graft.sched.Scheduler.scheduleRoundNarrow(
      pendingWide, graft.gen.Synthetic.robots(spark).toDF(),
      graft.gen.Synthetic.budgets(spark, 100).toDF(),
      graft.seen.UrlSeen.antiJoin(_, seenNarrow, "url_hash", 2000), 100, 8)
    dump("NARROW-shuffle scheduling round (engine/bench path)",
      "Expect: every Exchange between the robots fold and the final rejoin " +
        "carries only (url_hash, host, depth, host_rank, discovered_seq, " +
        "attempt) — the url/url_norm/category strings appear in exactly one " +
        "exchange, keyed (url_hash, discovered_seq). Round 3: the first-wins " +
        "dedup (lag scan) and the budget phase-1 window SHARE one explicit " +
        "(host, pmod(url_hash, 16)) exchange — no url_hash-only " +
        "hashpartitioning anywhere (asserted in SchedulerSpec).",
      nowNarrow)

    // 3. fetch + extract + pivot + product
    val pages = graft.gen.Synthetic.pages(spark, 500, 4).toDF()
      .withColumn("url_norm",
        graft.plans.UrlCanonExpr.canon(regexp_replace(col("url"), "/ar/", "/en/")))
    val withFields = graft.extract.Extractors.withPageFields(pages)
    val pivoted = graft.extract.Extractors.pivotLangs(withFields, "url_norm")
      .withColumn("url_en", coalesce(col("url_en"), col("url_norm")))
    dump("fetch+extract round (kernel → EN⋈AR pivot → Product)",
      "Expect: ONE native `extract_all` expression evaluation per page row " +
        "(round 4: a Catalyst expression with codegen, NOT a ScalaUDF — no " +
        "BatchEvalPython/ScalaUDF node anywhere) feeding a single hash " +
        "aggregate on url_norm (the pivot); the 34-column projection is " +
        "pure column algebra over the two structs.",
      graft.extract.Extractors.carrefourProduct(pivoted, "2024-11-10"))

    // 4. seen anti-join (bloom + exact)
    val frontier = graft.gen.Synthetic.frontier(spark, 5000, 4).toDF()
      .filter(!col("is_processed")).dropDuplicates("url_hash")
    val seen = frontier.filter(col("url_hash") % 3 === 0).select("url_hash")
    dump("URL-seen gate (Bloom prefilter + exact anti-join)",
      "Expect: the Bloom path splits the frontier with cheap filters; only " +
        "the candidate branch reaches the LeftAnti join.",
      graft.seen.UrlSeen.antiJoin(frontier, seen, "url_hash", 2000, 0.03))

    // 4b. cuckoo seen gate with the re-crawl window (J4b)
    dump("cuckoo URL-seen gate + re-crawl window (J4b)",
      "Expect (the engine's pinned-sketch path, SketchHandle): the expired " +
        "window semi-joins against seen (delete-safety) BEFORE any filter " +
        "delete; the per-bucket filter build (one repartition + " +
        "ObjectHashAggregate, CuckooAgg), the in-place delete and the gate " +
        "probe run inside RDD zipPartitions over the pinned sketch, so " +
        "explain shows them only as an ExistingRDD scan of the flagged " +
        "frontier; the visible plan is that scan split into the " +
        "definitely-new and candidate branches, with only sketch-positives " +
        "reaching the exact LeftAnti verify join against seen minus expired.",
      {
        val cFrontier = frontier.select("url_hash", "url", "host")
        val cSeen = cFrontier.filter(col("url_hash") % 3 === 0).select("url_hash")
        val cExpired = cFrontier.filter(col("url_hash") % 9 === 0).select("url_hash")
        graft.seen.UrlSeen.antiJoinCuckoo(cFrontier, cSeen, cExpired, "url_hash", 2000)
      })

    // 5. broadcast dim join
    dump("brand dimension join (J2)",
      "Expect: BroadcastHashJoin build side = part (small dim).",
      graft.queries.GraftQueries.all("q_broadcast_dim")(spark, sf))

    // 6. ANN top-k
    dump("ANN inner-product top-k",
      "Expect: broadcast of the single query vector; quantization + dot " +
        "product stay inside whole-stage codegen; one final window for rank.",
      graft.queries.GraftQueries.all("q_ann_topk")(spark, sf))

    // 7. Spinneys product with the brand-image probe (J2 integrated)
    dump("Spinneys 34-col product + brand-image broadcast probe",
      "Expect: the brand directory dim enters as a BroadcastHashJoin " +
        "LeftOuter on the normalized key; the 34-column projection and the " +
        "doc parse are codegen'd; one window for the first-wins barcode gate.",
      graft.queries.GraftQueries.all("q_spinneys_product")(spark, sf))

    // 8. the oracle-checked full scheduling chain over documents
    dump("q_crawl_schedule (O1+O2+O3+J4 composed, DuckDB-checked)",
      "Expect: same shape as the narrow round — one (host, salt) exchange " +
        "shared by dedup + budget phase-1, robots as broadcast fold, range " +
        "exchange for global order, strings crossing once.",
      graft.queries.GraftQueries.all("q_crawl_schedule")(spark, sf))

    // Narrative notes that must survive regeneration (this tool OVERWRITES
    // its output file — keep them here, not hand-edited into PLANS.md).
    sb.append(
      """
## extract oracles: the two HTML queries are now FULLY oracle-exact (round-5)

`q_extract_products` / `q_extract_metro` dump the full 34-column product
projection from synthetic HTML. An earlier round-5 note argued the DuckDB
closed-form replay was unreachable because DuckDB BIGINT multiply raises on
overflow and signed HUGEINT overflows on a 64×64 product. That premise was
wrong: DuckDB's **UHUGEINT** (unsigned 128-bit) holds any 64×64 product
exactly, so splitmix64's wrapping multiply is just
`CAST((a::UHUGEINT * m) % 2^64 AS UBIGINT)` — no limb decomposition.

`queries/SplitmixOracleSql.scala` now generates both oracles: a layered-CTE
mix pipeline (each xor-shift stage is one CTE layer over named columns, so
the expression never blows up; mix2(id, salt) shares mix(id) across all
~20 salts) followed by the closed-form restatement of every sentinel
branch, price format, category off-by-one, breadcrumb pad and the P17
price swap. Java signed `(x % m).abs` / `& mask` semantics map onto the
unsigned representation exactly (see the file's Scaladoc). Both queries
pass the driver gate rows+schema+hash — CORRECTNESS is 51/51 oracle-exact,
zero rows-only.

The zero-discrepancy checks `q_extract_text_check` /
`q_extract_metro_text_check` remain valuable and distinct: they state the
north rule's per-row invariant (kernel output == the golden `text` DATA
column, byte-identical, INSIDE the Spark plan over the actual html bytes),
which the splitmix oracle cannot express because it never sees the html
column — the two mechanisms fail on disjoint bug classes (kernel/golden
drift vs generator/projection drift).
""")
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
