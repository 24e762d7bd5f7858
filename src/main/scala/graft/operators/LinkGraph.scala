package graft.operators

import graft.functions.{ExtractLinksExpr, UrlFns}
import graft.ops.Quantiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crawl link graph: hyperlink edges out of captured HTML, and the
  * PageRank-style centrality prior every web-curation stack keys on
  * (Common Crawl publishes host ranks; CCNet/RefinedWeb-class pipelines
  * consume link-based quality priors at exactly this seam).
  *
  * Scale design:
  *  - Edge building is a SCAN-STAGE projection: extract → resolve →
  *    normalize are all codegen'd kernels running in-row; the only
  *    shuffle is the (src,dst) dedup.
  *  - PageRank iterates `edges ⋈ rank → groupBy(dst)` — the canonical
  *    distributed formulation. The edge frame persists ONCE and is
  *    reused every iteration; each rank frame is node-sized (never
  *    edge-sized), persists for exactly one iteration, and the previous
  *    one unpersists as soon as its successor materializes (bounded
  *    lineage, bounded storage — the iterative-algorithm discipline
  *    without which 100 iterations at 100 TB would either recompute the
  *    world or pin it).
  *  - All rank arithmetic is scaled-integer (`pr_e12`): longs sum
  *    associatively, so ranks are bit-identical under any partitioning
  *    and any executor count — and re-derivable in plain SQL (q135).
  *
  * Semantics (deterministic, closed-form): damping d = dampE3/1000;
  * rank₀ = ⌊1e12/n⌋; rankᵢ₊₁(v) = ⌊(1000−dampE3)·1e12/(1000·n)⌋ +
  * Σ_{(u,v)∈E} ⌊rankᵢ(u)·dampE3/(1000·outdeg(u))⌋. Dangling mass is NOT
  * redistributed (the standard "weak" PageRank): total mass decays where
  * sinks exist, relative order — the signal — is preserved, and the fold
  * stays associative. Self-loops drop, parallel edges collapse. */
object LinkGraph {

  /** One row per (page, link): `src` = the page's canonical URL, `dst` =
    * the href resolved against the page URL and canonicalized, `anchor` =
    * the link's text. Non-http(s) targets (mailto:, javascript:, …) and
    * unresolvable rows drop. Duplicates preserved — multiplicity is the
    * anchor-text signal; [[edges]] collapses them for the graph. */
  def links(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    Dedup.ensureParallel(pages)
      .select(UrlFns.urlNormalize(col(urlCol)).as("src"),
        explode(ExtractLinksExpr(col(htmlCol))).as("link"))
      .select(col("src"),
        UrlFns.urlNormalize(
          UrlFns.urlResolve(col("src"), col("link.href"))).as("dst"),
        col("link.anchor").as("anchor"))
      .filter(col("dst").isNotNull &&
        (col("dst").startsWith("http://") || col("dst").startsWith("https://")))

  /** Distinct (src, dst) pairs, self-loops dropped. */
  def edges(links: DataFrame): DataFrame =
    links.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Iterative scaled-integer PageRank over an edge frame. Returns
    * (node, out_deg, in_deg, pr_e12). `iters` is typically 10–50 in
    * production; the arithmetic and storage discipline are iteration-count
    * independent (see object doc). */
  def pageRank(edgesIn: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iters: Int = 3,
               dampE3: Long = 850L): DataFrame = {
    require(iters >= 1 && dampE3 >= 0 && dampE3 <= 1000,
      s"need iters >= 1 and dampE3 in [0,1000], got $iters/$dampE3")
    // STAGE PINNING (the CurationJob/Dedup convention): an iterative
    // operator must TRUNCATE lineage, not just cache it. persist() keeps
    // the full logical plan — with a decode-heavy upstream (a WARC crawl)
    // embedded at every leaf, iteration k's plan goes ~2^k and the driver
    // dies stringifying it before a task runs (measured: a 1.2 GB plan
    // string OOM at 500k captures). localCheckpoint(eager) pins edges once
    // and each rank snapshot to a LogicalRDD, so every iteration's plan is
    // one join-agg layer deep regardless of iters or upstream. (On a
    // multi-executor cluster, swap for reliable checkpointing — local
    // snapshots die with their executor; same truncation contract.)
    val edges = edgesIn
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count() // one scalar action; the teleport term needs it
    val outDeg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    val teleport = (1000L - dampE3) * 1000000000000L / (1000L * n)
    var rank = nodes.withColumn("pr_e12", lit(1000000000000L / n))
    var prev: DataFrame = null
    for (_ <- 1 to iters) {
      val inflow = edges
        .join(rank.withColumnRenamed("node", "src"), "src")
        .join(outDeg.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          Quantiles.div(col("pr_e12") * dampE3,
            lit(1000L) * col("out_deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("inflow"))
      // eager checkpoint materializes BEFORE the rank it was built from is
      // released; only the newest snapshot is ever re-read
      val next = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + coalesce(col("inflow"), lit(0L))).as("pr_e12"))
        .localCheckpoint(true)
      if (prev != null) Dedup.release(prev)
      prev = next
      rank = next
    }
    // RELEASE CONTRACT: the iteration's internal snapshots (edges, nodes,
    // the final rank) are implementation detail — pin the RESULT once,
    // then free every internal block, so two pageRank calls in a session
    // leave no residue beyond their own results (r14 verdict #2). The
    // caller frees the returned frame with [[Dedup.release]] after its
    // final action — the same contract as the dedup composites.
    val out = rank
      .join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"), col("pr_e12"))
      .localCheckpoint(true)
    Seq(rank, nodes, edges).foreach(Dedup.release)
    out
  }

  /** Crawl-frontier construction — the natural consumer of everything the
    * crawl side built (r14 verdict #5): from the current crawl's resolved
    * link frame ([[links]]), emit the prioritized, robots-clean list of
    * what to FETCH NEXT.
    *
    *  - Candidates = link targets ∪ the hosts' `Sitemap:` URLs
    *    ([[graft.functions.RobotsExprs.sitemaps]]) ∪ the entries of any
    *    FETCHED sitemap bodies (`sitemapDocs`, columns `url`/`body` —
    *    [[graft.functions.SitemapExpr]] expands urlset pages and nested
    *    index children alike), http(s)-only, canonical, DISTINCT — minus
    *    everything in `crawled` (anti-join: the undiscovered set).
    *  - RECRAWL scheduling: when `crawled` carries a SECOND column (the
    *    fetch date, W3C-datetime string), a crawled url whose sitemap
    *    entry advertises a NEWER `<lastmod>` re-admits — sitemaps exist
    *    precisely so crawlers re-fetch what changed instead of everything.
    *    Comparison is lexicographic over the W3C forms (date-only vs
    *    datetime mixes conservatively). A 1-column `crawled` keeps the
    *    fetched-is-final semantics.
    *  - Governance: each host's robots.txt parses ONCE on the host-sized
    *    `robots` frame (columns `host`, `robots_txt`), broadcasts, and
    *    the RFC 9309 verdict runs in-row at the scan; a host with no
    *    robots row is allowed (no robots = allow, per the RFC).
    *  - Priority: `hostRank` (host key + a rank column — `pr_e12` if
    *    present, else the second column; e.g. the host-level [[pageRank]]
    *    prior) broadcasts on; unknown hosts rank 0.
    *  - Politeness: at most `hostCap` urls per host per frontier round —
    *    the TopK heap discipline (never a corpus window), picked by the
    *    url's FNV-1a 64 asc (q67's hash-verified total order: the pick is
    *    deterministic under any partitioning).
    *
    *  - Politeness CALENDAR (r16): each host's `Crawl-delay` parses once
    *    on the same host-sized robots frame
    *    ([[graft.functions.RobotsExprs.crawlDelayMs]] — max across merged
    *    groups, fractional seconds honored) and every url gets a
    *    `fetch_after_ms` slot = (rn − 1) × delay_ms: the fetch list is
    *    directly schedulable (slot 0 fires now, slot k waits k delays).
    *    Hosts advertising no delay (or with no robots row) get NULL —
    *    the caller's own pacing policy applies, nothing is invented.
    *
    * Returns (url, host, host_rank_e12, rn, fetch_after_ms); fetch order =
    * host_rank_e12 desc, then the same FNV tie — sort the RESULT, which is
    * hostCap-bounded per host, never the candidate set. */
  def frontier(links: DataFrame, crawled: DataFrame,
               hostRank: DataFrame = null, robots: DataFrame = null,
               agent: String = "graftbot", hostCap: Int = 100,
               sitemapDocs: DataFrame = null): DataFrame = {
    require(hostCap >= 1, s"hostCap must be >= 1, got $hostCap")
    val nullStr = lit(null).cast("string")
    val linkUrls = links.select(col("dst").as("url"),
      nullStr.as("__lastmod"))
    val withSitemapUrls = if (robots == null) linkUrls
      else linkUrls.unionByName(robots
        .select(explode(graft.functions.RobotsExprs.robotsSitemaps(
          col("robots_txt"))).as("__sm"))
        .select(UrlFns.urlNormalize(col("__sm")).as("url"),
          nullStr.as("__lastmod")))
    // fetched sitemap BODIES expand ([[graft.functions.SitemapExpr]]):
    // their <loc> entries — page urls AND nested index children, both
    // fetchable — join the candidate pool, carrying their advertised
    // lastmod (the recrawl signal)
    val candAll = (if (sitemapDocs == null) withSitemapUrls
      else withSitemapUrls.unionByName(sitemapDocs
        .select(explode(graft.functions.SitemapExpr(col("body")))
          .as("__e"))
        .select(UrlFns.urlNormalize(col("__e.loc")).as("url"),
          col("__e.lastmod").as("__lastmod"))))
      .filter(col("url").startsWith("http://") ||
        col("url").startsWith("https://"))
    // one row per url with its best-known lastmod (the same shuffle the
    // plain distinct paid)
    val cand = candAll.groupBy(col("url"))
      .agg(max(col("__lastmod")).as("__lastmod"))
    // one row per crawled url at its LATEST fetch: a re-fetched page must
    // compare lastmod against the newest fetch (an older row would wrongly
    // re-admit it), and duplicate crawled urls must not multiply the join
    val crawledCols = crawled.columns
    val crawledN = crawled.select(col(crawledCols.head).as("url"),
        (if (crawledCols.length > 1) col(crawledCols(1)).cast("string")
         else nullStr).as("__fetched"))
      .groupBy(col("url"))
      .agg(max(col("__fetched")).as("__fetched"))
      .withColumn("__crawled", lit(true))
    val fresh = cand.join(crawledN, Seq("url"), "left")
      .filter(col("__crawled").isNull ||
        (col("__lastmod").isNotNull && col("__fetched").isNotNull &&
          col("__lastmod") > col("__fetched")))
      .drop("__lastmod", "__fetched", "__crawled")
    val pathOf = expr("CASE WHEN locate('/', url, locate('://', url) + 3)" +
      " = 0 THEN '/' ELSE substr(url, locate('/', url," +
      " locate('://', url) + 3)) END")
    // the host column is FENCED: Catalyst would push the isNotNull filter
    // (with UrlHostExpr inlined) through the candidate distinct's exchange
    // straight into the source scan — the kernel would run at file-count
    // parallelism below the guard (the shingleFrame pushdown trap)
    val withHost = fresh.select(col("url"),
        graft.functions.PushdownFence(
          UrlFns.urlHost(col("url"))).as("host"), pathOf.as("__path"))
      .filter(col("host").isNotNull)
    val gated =
      if (robots == null) withHost.drop("__path")
      else {
        val rules = robots.select(col("host"),
          graft.functions.RobotsExprs.robotsRules(col("robots_txt"),
            lit(agent)).as("__rg"))
        withHost.join(broadcast(rules), Seq("host"), "left")
          .filter(col("__rg").isNull ||
            graft.functions.RobotsExprs.robotsAllowed(col("__path"),
              transform(col("__rg"), x => x.getField("pattern")),
              transform(col("__rg"), x => x.getField("allow"))))
          .drop("__path", "__rg")
      }
    val ranked =
      if (hostRank == null) gated.withColumn("host_rank_e12", lit(0L))
      else {
        val cols = hostRank.columns
        val rankCol = if (cols.contains("pr_e12")) "pr_e12" else cols(1)
        gated.join(broadcast(hostRank.select(col(cols.head).as("host"),
            col(rankCol).cast("long").as("host_rank_e12"))), Seq("host"),
            "left")
          .withColumn("host_rank_e12",
            coalesce(col("host_rank_e12"), lit(0L)))
      }
    val top = graft.ops.TopK.topKPerGroup(ranked, Seq("host"), lit(0L),
      graft.functions.RollingHash64(col("url")),
      Seq(col("url"), col("host_rank_e12")), hostCap)
      .select(col("url"), col("host"), col("host_rank_e12"), col("rn"))
    // the calendar join lands on the hostCap-bounded RESULT (tiny), and
    // the delay kernel runs once per host on the broadcast side
    if (robots == null)
      top.withColumn("fetch_after_ms", lit(null).cast("long"))
    else
      top.join(broadcast(robots.select(col("host"),
          graft.functions.RobotsExprs.robotsCrawlDelayMs(col("robots_txt"),
            lit(agent)).as("__delay_ms"))), Seq("host"), "left")
        .withColumn("fetch_after_ms",
          (col("rn") - 1).cast("long") * col("__delay_ms"))
        .select(col("url"), col("host"), col("host_rank_e12"), col("rn"),
          col("fetch_after_ms"))
  }

  /** Top-`k` anchor texts per TARGET url by occurrence count (ties: the
    * anchor's FNV-1a 64 hash asc — q67's hash-verified total order, so the
    * ranking is identical under any partitioning and re-derivable in plain
    * SQL): the classic anchor-text aggregation, the free-text description
    * of a page written by every OTHER page that links to it. Empty anchors
    * carry no text and drop. */
  def anchorTopK(links: DataFrame, k: Int): DataFrame = {
    val counted = links.filter(col("anchor") =!= "")
      .groupBy(col("dst"), col("anchor"))
      .agg(count(lit(1)).as("cnt"))
    graft.ops.TopK.topKPerGroup(counted, Seq("dst"), col("cnt"),
      graft.functions.RollingHash64(col("anchor")),
      Seq(col("anchor"), col("cnt")), k)
      .select(col("dst"), col("rn"), col("anchor"), col("cnt"))
  }
}
