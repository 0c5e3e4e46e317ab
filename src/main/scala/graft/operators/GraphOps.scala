package graft.operators

import graft.{QueryFamily, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over the document-similarity graph — the
  * "which documents are duplication hubs" view a large-corpus curation
  * pipeline ranks by before choosing canonical copies.
  *
  * Graph: same-lang doc pairs sharing ≥ 28 distinct tokens (the sparse
  * top of the similarity spectrum), scored with the codegen'd
  * sorted-merge intersect the dedup family already uses. Candidates come
  * from the rare-token postings generator (PPJoin prefix filtering at
  * the edge threshold — Dedup.langBlockedTokenPairs), the same inverted-
  * index construction containment dedup uses — the graph CONSTRUCTION is
  * the expensive, shuffle-bound stage, and it is shared across both
  * queries here.
  *
  * PageRank runs 3 unrolled power iterations (damping 0.85). Shapes that
  * matter at scale: edges shuffle ONCE onto src and are joined per
  * iteration against the O(|V|) rank table; per-edge contributions are
  * rounded to a 12-dp decimal BEFORE the per-node sum, so the
  * aggregation is exact integer arithmetic — order-independent across
  * any partitioning (the SURVEY §7.4 determinism law applied to an
  * iterative kernel; a raw double sum would drift between engines AND
  * between runs). The tiny (n, rank) recurrence stays in doubles with
  * bit-identical operation order in both engines.
  *
  * `q_dedup_cluster` already pins the OTHER iterative kernel
  * (convergence-driven label propagation, GraphX-cross-checked);
  * PageRank pins the fixed-iteration weighted variant with a value-exact
  * DuckDB oracle.
  */
object GraphOps extends QueryFamily {

  private val minShared = 28
  private val triMinShared = 30

  /** Undirected similarity edges (da < db) — candidate pairs come from
    * the SHARED Dedup.langBlockedTokenPairs rare-token postings
    * generator (PPJoin prefix filter at the edge threshold — every
    * >= thresh pair collides inside both prefixes), then the exact
    * codegen'd sorted-merge intersect verifies. One construction for
    * both families, no corpus-wide join or broadcast anywhere. */
  private def edges(s: SparkSession, dir: String, thresh: Int = minShared): DataFrame =
    Dedup.langBlockedTokenPairs(s, dir, ordered = true, minShared = thresh)
      .where(expr(s"sorted_intersect_size(ta, tb) >= $thresh"))
      .select("da", "db")

  // The pinned graphs below are memoized per (session, dir) in
  // graft.Artifacts, which evicts stopped/overflow sessions so the
  // pinned graph blocks are reclaimable in a long-lived JVM.
  /** The triangle query's SPARSER edge set (>= triMinShared shared
    * tokens), pinned+memoized like the main graph. The fixture vocabulary
    * is ~40 words, so the 28-token graph is unrealistically dense (avg
    * degree ~178 at sf0.1) — wedge counting is built for the sparse
    * similarity graphs real corpora produce, and the near-clique tier is
    * where clustering structure lives. */
  private def triEdges(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.get(s, "graph.triEdges", dir)(
      Dedup.passPinner(s)(edges(s, dir, triMinShared)))

  /** src→dst with both orientations, plus each src's out-degree — PINNED
    * (localCheckpoint by default, reliable checkpoint under the same knob
    * as the CC loop): the O(pairs) block join must run once, not once per
    * power iteration. Memoized per (session, fixture dir) like the
    * Warehouse layouts: graph CONSTRUCTION is layout work, both queries
    * here (and repeated bench runs) serve from the same pinned edge set.
    */
  private[graft] def symWithDeg(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Artifacts.get(s, "graph.symWithDeg", dir) {
      val pin = Dedup.passPinner(s)
      val e = pin(edges(s, dir))
      val sym = pin(e.select(col("da").as("src"), col("db").as("dst"))
        .unionByName(e.select(col("db").as("src"), col("da").as("dst"))))
      val deg = pin(sym.groupBy("src").agg(count(lit(1)).as("deg")))
      (sym, deg)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Degree distribution of the similarity graph — the corpus-shape
    // diagnostic (a heavy tail here means boilerplate hubs).
    "q_graph_degree" -> ((s, dir) => {
      val (_, deg) = symWithDeg(s, dir)
      deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }),

    // Triangle participation per node — the clustering-coefficient
    // numerator (how clique-like each doc's similarity neighborhood is;
    // boilerplate families triangle heavily, chance pairs don't).
    // DEGREE-ORDERED orientation (each edge points low→high in the
    // (degree, id) total order): every out-degree is O(√m), so the
    // wedge join is Σ outdeg² = O(m^1.5) — the classic bound that makes
    // hub nodes harmless; naive id-orientation was measured 5× slower
    // on this graph's hubs. A triangle's three oriented edges are
    // acyclic, so exactly one apex has out-degree 2 in it: each
    // triangle is formed once, and the closing (b,c) edge is oriented
    // b→c because the wedge orders rb < rc in the same total order.
    // The oracle keeps the cheap id-orientation — per-node triangle
    // counts are orientation-independent, so the outputs agree.
    "q_graph_triangles" -> ((s, dir) => {
      val te = triEdges(s, dir)
      val deg = te.select(col("da").as("src"))
        .unionByName(te.select(col("db").as("src")))
        .groupBy("src").agg(count(lit(1)).as("deg"))
      // one row per undirected edge, both endpoint degrees attached
      val e0 = te.select(col("da").as("src"), col("db").as("dst"))
        .join(deg.select(col("src").as("src"), col("deg").as("dsrc")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("ddst")), "dst")
      val srcFirst = struct(col("dsrc"), col("src")) <
        struct(col("ddst"), col("dst"))
      val eo = e0.select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("a"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("b"),
        when(srcFirst, struct(col("ddst").as("d"), col("dst").as("i")))
          .otherwise(struct(col("dsrc").as("d"), col("src").as("i"))).as("rb"))
      val wedges = eo.select(col("a"), col("b"), col("rb"))
        .join(eo.select(col("a"), col("b").as("c"), col("rb").as("rc")), "a")
        .where(col("rb") < col("rc"))
      val tri = wedges.join(
        eo.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      val perNode = tri.select(col("a").as("id"))
        .unionByName(tri.select(col("b").as("id")))
        .unionByName(tri.select(col("c").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n_triangles"))
      perNode.orderBy("id")
    }),

    // Common-neighbor link prediction over the near-clique tier: the
    // non-adjacent pairs that share the most neighbors — exactly the
    // "these two docs transitively co-cluster but never directly
    // scored" candidates a dedup pass should re-examine (the candidate
    // generator's blind spot, recovered from graph structure alone).
    // Shape: one self-join of the sparse edge list on the shared
    // neighbor + an anti-join against the edges; top-20 is
    // TakeOrderedAndProject.
    "q_graph_linkpred" -> ((s, dir) => {
      val te = triEdges(s, dir)
      val sym = te.select(col("da").as("n"), col("db").as("x"))
        .unionByName(te.select(col("db").as("n"), col("da").as("x")))
      val pairs = sym.select(col("n"), col("x").as("b"))
        .join(sym.select(col("n"), col("x").as("c")), "n")
        .where(col("b") < col("c"))
        .groupBy("b", "c").agg(count(lit(1)).as("common"))
      pairs.join(te,
          col("b") === col("da") && col("c") === col("db"), "left_anti")
        .orderBy(col("common").desc, col("b"), col("c"))
        .limit(20)
    }),

    // 3-iteration PageRank over the similarity graph.
    "q_graph_pagerank" -> ((s, dir) => {
      val (sym, deg) = symWithDeg(s, dir)
      val nn = deg.agg(count(lit(1)).as("n"))
      // node table carries (id, deg, n); rank starts uniform
      var r = deg.crossJoin(broadcast(nn)).select(
        col("src").as("id"), col("deg"), col("n"),
        (lit(1.0) / col("n").cast("double")).as("pr"))
      for (_ <- 1 to 3) {
        val contrib = sym
          .join(r, sym("src") === r("id"))
          .select(col("dst"),
            round(col("pr") / col("deg").cast("double"), 12)
              .cast(DecimalType(28, 12)).as("c"))
        val sums = contrib.groupBy("dst").agg(sum("c").as("csum"))
        // No per-iteration pin (r20): each iteration's r feeds the next
        // exactly ONCE, so the unrolled 3-iteration chain is a single
        // linear DAG in which every join runs once — the eager
        // localCheckpoint per pass bought no re-use and cost a
        // materialization job per iteration (the edge set itself stays
        // pinned in symWithDeg, where it IS multiply consumed).
        // Convergence-driven loops with unbounded depth still pin
        // (q_dedup_cluster) — that is what lineage truncation is for.
        r = deg.crossJoin(broadcast(nn))
          .join(sums, col("src") === col("dst")) // symmetric graph: every node has in-edges
          .select(col("src").as("id"), col("deg"), col("n"),
            (lit(0.15) / col("n").cast("double") +
              lit(0.85) * col("csum").cast("double")).as("pr"))
      }
      r.select(col("id"), col("deg").cast("long").as("deg"), col("pr"))
        .orderBy("id")
    }),

    // Degree ASSORTATIVITY (Newman 2002) — do hub documents link to
    // hubs (boilerplate families cluster) or to the periphery? The
    // Pearson correlation of endpoint degrees over the symmetrized
    // edge list, in the q_agg_corr exact-sufficient-statistic form:
    // six integer sums over (deg_src, deg_dst) edge rows (symmetry
    // makes Σx = Σy and Σx² = Σy², so the standard undirected formula
    // falls out of the generic chain unchanged), one IEEE boundary.
    // One broadcast deg join per endpoint; degrees are fixture-small
    // integers so every sum is far inside int64.
    "q_graph_assortativity" -> ((s, dir) => {
      val (sym, deg) = symWithDeg(s, dir)
      sym
        .join(broadcast(deg.select(col("src"), col("deg").as("dx"))), "src")
        .join(broadcast(deg.select(col("src").as("dst"), col("deg").as("dy"))),
          "dst")
        .agg(count(lit(1)).as("n_edges"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(expr("dx * dy")).as("sxy"),
          sum(expr("dx * dx")).as("sxx"), sum(expr("dy * dy")).as("syy"))
        .withColumn("r_micros", expr(
          "CAST(floor((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
            "(sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
            "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
            "sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - " +
            "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000.0D) " +
            "AS BIGINT)"))
        .select("n_edges", "sx", "sxy", "r_micros")
    }),

    // Bounded-hop BFS from a deterministic source (the min node id) —
    // the reachability/radius primitive the other graph keys don't
    // cover: every node's shortest hop distance <= 3. Layered frontier
    // expansion: hop k+1 = neighbors of hop k minus everything already
    // labeled, each pass ONE keyed join + one anti-join on id-only rows
    // (the scale shape: the frontier moves, the corpus doesn't). Three
    // unrolled passes, no driver loop state; dists are exact integers.
    "q_graph_bfs" -> ((s, dir) => {
      val (sym, _) = symWithDeg(s, dir)
      val src0 = sym.agg(min(col("src")).as("doc_id"))
      var visited = src0.withColumn("dist", lit(0L))
      for (d <- 1 to 3) {
        val next = visited.where(col("dist") === (d - 1L))
          .join(sym, col("doc_id") === col("src"))
          .select(col("dst").as("doc_id")).distinct()
          .join(visited.select("doc_id"), Seq("doc_id"), "left_anti")
          .withColumn("dist", lit(d.toLong))
        visited = visited.unionByName(next)
      }
      visited.orderBy("dist", "doc_id")
    }),
  )

  // body (no WITH keyword) so the plain and RECURSIVE variants are both
  // built explicitly — string-replacing the prefix would silently no-op
  // if the leading text ever changed
  private val edgeCteBody =
    "d AS (SELECT doc_id, lang, " +
      "list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
      "e AS (SELECT a.doc_id AS da, b.doc_id AS db FROM d a " +
      "JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
      s"WHERE length(list_intersect(a.toks, b.toks)) >= $minShared), " +
      "sym AS (SELECT da AS src, db AS dst FROM e " +
      "UNION ALL SELECT db AS src, da AS dst FROM e), " +
      "deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src), " +
      "nn AS (SELECT count(*) AS n FROM deg)"

  private val edgeCte = "WITH " + edgeCteBody

  // one power iteration as SQL text: prev rank table `rp` → new table
  private def iter(prev: String, next: String): String =
    s"$next AS (SELECT deg.src AS id, deg.deg, " +
      "CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) * CAST(s.csum AS DOUBLE) AS pr " +
      "FROM deg, nn, (SELECT sym.dst, " +
      s"SUM(CAST(round($prev.pr / deg2.deg, 12) AS DECIMAL(28,12))) AS csum " +
      s"FROM sym JOIN $prev ON sym.src = $prev.id " +
      "JOIN deg deg2 ON sym.src = deg2.src GROUP BY sym.dst) s " +
      "WHERE deg.src = s.dst)"

  def oracles: Map[String, String] = Map(
    "q_graph_degree" -> (edgeCte +
      " SELECT deg, count(*) AS n_nodes FROM deg GROUP BY deg ORDER BY deg"),

    // identical six sums over the same symmetric edge rows, identical
    // IEEE chain
    "q_graph_assortativity" -> (edgeCte + ", " +
      "ed AS (SELECT d1.deg AS dx, d2.deg AS dy FROM sym " +
      "JOIN deg d1 ON sym.src = d1.src JOIN deg d2 ON sym.dst = d2.src), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS n_edges, " +
      "CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy, " +
      "CAST(sum(dx * dy) AS BIGINT) AS sxy, " +
      "CAST(sum(dx * dx) AS BIGINT) AS sxx, " +
      "CAST(sum(dy * dy) AS BIGINT) AS syy FROM ed) " +
      "SELECT n_edges, sx, sxy, " +
      "CAST(floor((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
      "(sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
      "sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 1000000.0) " +
      "AS BIGINT) AS r_micros FROM s"),

    // recursive min-dist BFS; UNION (not ALL) dedups (id, dist) states so
    // the dense fixture graph can't path-explode
    "q_graph_bfs" -> ("WITH RECURSIVE " + edgeCteBody + ", " +
      "r AS (SELECT (SELECT min(src) FROM sym) AS doc_id, 0 AS dist " +
      "UNION SELECT sym.dst, r.dist + 1 FROM r JOIN sym ON sym.src = r.doc_id " +
      "WHERE r.dist < 3) " +
      "SELECT doc_id, CAST(min(dist) AS BIGINT) AS dist FROM r " +
      "GROUP BY doc_id ORDER BY dist, doc_id"),

    "q_graph_triangles" -> ("WITH d AS (SELECT doc_id, lang, " +
      "list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
      "e AS (SELECT a.doc_id AS da, b.doc_id AS db FROM d a " +
      "JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
      s"WHERE length(list_intersect(a.toks, b.toks)) >= $triMinShared), " +
      "wedges AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c " +
      "FROM e e1 JOIN e e2 ON e1.db = e2.da), " +
      "tri AS (SELECT a, b, c FROM wedges " +
      "JOIN e e3 ON wedges.a = e3.da AND wedges.c = e3.db), " +
      "pernode AS (SELECT a AS id FROM tri UNION ALL " +
      "SELECT b FROM tri UNION ALL SELECT c FROM tri) " +
      "SELECT id, count(*) AS n_triangles FROM pernode GROUP BY id ORDER BY id"),

    "q_graph_linkpred" -> ("WITH d AS (SELECT doc_id, lang, " +
      "list_sort(list_distinct(string_split(text, ' '))) AS toks FROM documents), " +
      "e AS (SELECT a.doc_id AS da, b.doc_id AS db FROM d a " +
      "JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
      s"WHERE length(list_intersect(a.toks, b.toks)) >= $triMinShared), " +
      "sym AS (SELECT da AS n, db AS x FROM e UNION ALL SELECT db, da FROM e), " +
      "pairs AS (SELECT s1.x AS b, s2.x AS c, count(*) AS common " +
      "FROM sym s1 JOIN sym s2 ON s1.n = s2.n WHERE s1.x < s2.x " +
      "GROUP BY s1.x, s2.x) " +
      "SELECT b, c, common FROM pairs " +
      "WHERE NOT EXISTS (SELECT 1 FROM e WHERE da = b AND db = c) " +
      "ORDER BY common DESC, b, c LIMIT 20"),

    "q_graph_pagerank" -> (edgeCte + ", " +
      "r0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg, nn), " +
      iter("r0", "r1") + ", " + iter("r1", "r2") + ", " + iter("r2", "r3") +
      " SELECT id, deg, pr FROM r3 ORDER BY id"),
  )
}
