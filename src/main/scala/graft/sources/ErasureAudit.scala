package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CROSS-STORE ERASURE AUDIT (round 15) — the compliance surface that
  * closes the erasure theme: every `deleteFrom*` in the library removes
  * a subject's data from ONE persisted store, but a right-to-be-
  * forgotten request is only DONE when a scan proves the ids appear in
  * NONE of them. This object is that scan: one row per (store, surface)
  * with the count of store rows still carrying an erased id — an
  * all-zeros report is the signoff artifact a privacy review files,
  * and any nonzero row names exactly which table of which store leaked.
  *
  * Surfaces audited per store (every id-bearing table, not just the
  * primary one — a leak hides in the SECONDARY tables):
  *   - signature store: arrays/ AND the band postings in buckets/
  *   - BM25 index (current CAS version): docstats AND postings
  *   - SemDeDup store (current CAS version): kept/ representatives
  *   - NSW/HNSW graph store (current CAS version): vectors/, graph
  *     SOURCES, and graph NEIGHBOR endpoints (a vector can vanish from
  *     vectors/ yet survive as someone's neighbor — the exact torn
  *     state the CAS delete prevents and this audit would catch)
  *   - IVF cell store / PQ code store: the LIVE generation only,
  *     resolved through the CELLS/CODES pointer exactly like the probe
  *     path. An erase retires every other generation at once, so no
  *     erased row survives outside the live one; a compaction keeps
  *     the generation it replaced as a reader grace window, which
  *     holds only rows its live successor also holds (the generation
  *     rule: Similarity's GenerationStore)
  *   - KMV store (current CAS version): the erased KEYS hashed with
  *     the store's own md5 convention and probed against every day's
  *     sketch minima — a KMV sketch is one-way, but the hashes it
  *     STORES are still per-key data and must not survive erasure
  *
  * The novelty store is deliberately NOT id-auditable: its redesigned
  * ledger is reference-counted (h, cnt, tag) over window hashes SHARED
  * across documents — a hash surviving erasure is expected whenever any
  * non-erased document carries the same window, so id-presence is not a
  * leak criterion there (its own leak-freedom spec pins the
  * fully-erased-hash-vanishes property instead).
  *
  * Scale (100 TB of stores): each surface is ONE left-semi join of the
  * store table against the (small, broadcast) erased-id set, counted —
  * map-side probes over the store scan, no shuffle of store data, and
  * surfaces compose into one report by unionAll. The audit is
  * read-only: it never takes the stores' write locks and can run
  * against live serving stores (CAS versions make the read a
  * consistent snapshot).
  */
object ErasureAudit {

  private def leakRow(store: String, surface: String,
                      joined: DataFrame): DataFrame =
    joined.agg(count(lit(1)).as("leaked_rows"))
      .select(lit(store).as("store"), lit(surface).as("surface"),
        col("leaked_rows"))

  private def semiCount(store: String, surface: String, table: DataFrame,
                        ids: DataFrame, key: String): DataFrame =
    leakRow(store, surface,
      table.join(broadcast(ids), table(key) === ids("__erased_id"),
        "left_semi"))

  private def erased(ids: DataFrame, idCol: String): DataFrame =
    ids.select(col(idCol).cast("long").as("__erased_id")).distinct()

  /** arrays/ + buckets/ (band postings) of the MinHash signature store. */
  def auditSignatureStore(s: SparkSession, path: String,
                          ids: DataFrame, idCol: String): DataFrame = {
    val del = erased(ids, idCol)
    semiCount("signature", "arrays",
        s.read.parquet(s"$path/arrays"), del, "doc_id")
      .unionAll(semiCount("signature", "buckets",
        s.read.parquet(s"$path/buckets"), del, "doc_id"))
  }

  /** docstats + postings of the current BM25 CAS version. */
  def auditBm25Store(s: SparkSession, root: String,
                     ids: DataFrame, idCol: String): DataFrame = {
    val cur = VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"auditBm25Store: no published build under $root"))
    val del = erased(ids, idCol)
    semiCount("bm25", "docstats",
        s.read.parquet(s"$cur/docstats"), del, "doc_id")
      .unionAll(semiCount("bm25", "postings",
        s.read.parquet(s"$cur/postings"), del, "doc_id"))
  }

  /** kept/ representatives of the current SemDeDup CAS version. */
  def auditSemDedupStore(s: SparkSession, root: String,
                         ids: DataFrame, idCol: String): DataFrame = {
    val cur = VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"auditSemDedupStore: no published build under $root"))
    semiCount("semdedup", "kept",
      s.read.parquet(s"$cur/kept"), erased(ids, idCol), "vid")
  }

  /** vectors/ + graph sources + graph neighbor endpoints of the
    * current graph-store CAS version (NSW and HNSW share the layout
    * at these surfaces). */
  def auditNswStore(s: SparkSession, root: String,
                    ids: DataFrame, idCol: String): DataFrame =
    graphStoreAudit("graph_ann", s, root, ids, idCol)

  /** The layered HNSW store (round 16; VERDICT r15 item 4): same
    * vectors/graph tables as the flat store — graph carries a `level`
    * column the vid/nbr probes ignore, and a deleted id hiding on ANY
    * layer is one more exploded neighbor occurrence, so the flat
    * surfaces cover every layer at once. Split out under its own
    * store label so a report names which serving index leaked. */
  def auditHnswStore(s: SparkSession, root: String,
                     ids: DataFrame, idCol: String): DataFrame =
    graphStoreAudit("hnsw_ann", s, root, ids, idCol)

  private def graphStoreAudit(label: String, s: SparkSession, root: String,
                              ids: DataFrame, idCol: String): DataFrame = {
    val cur = VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"audit $label: no published build under $root"))
    val del = erased(ids, idCol)
    val graph = s.read.parquet(s"$cur/graph")
    // adjacency persists as (vid, nbrs array) — neighbor endpoints
    // audit through an explode so an id hiding inside another node's
    // list is counted per occurrence
    val nbrEnds = graph.select(explode(col("nbrs")).as("nbr_vid"))
    semiCount(label, "vectors",
        s.read.parquet(s"$cur/vectors"), del, "vid")
      .unionAll(semiCount(label, "graph_src", graph, del, "vid"))
      .unionAll(semiCount(label, "graph_nbr", nbrEnds, del, "nbr_vid"))
  }

  /** The LIVE inverted-list generation of an IVF (or IVF-PQ) store,
    * resolved through the CELLS pointer like the probe path. */
  def auditIvfStore(s: SparkSession, path: String,
                    ids: DataFrame, idCol: String): DataFrame = {
    val live = graft.ops.Similarity.liveCellsDir(s, path)
    semiCount("ivf", s"cells:$live",
      s.read.parquet(s"$path/$live"), erased(ids, idCol), "vid")
  }

  /** The LIVE code generation of a PQ store (CODES pointer). */
  def auditPqStore(s: SparkSession, path: String,
                   ids: DataFrame, idCol: String): DataFrame = {
    val live = graft.ops.Similarity.liveCodesDir(s, path)
    semiCount("pq", s"codes:$live",
      s.read.parquet(s"$path/$live"), erased(ids, idCol), "vid")
  }

  /** Sketch minima of the current KMV CAS version, probed with the
    * store's own key-hash convention (md5Hash64 of the key string). */
  def auditKmvStore(s: SparkSession, root: String,
                    keys: DataFrame, keyCol: String): DataFrame = {
    val cur = VersionedStore.resolveDir(s, root).getOrElse(
      sys.error(s"auditKmvStore: no published build under $root"))
    val hashes = keys
      .select(graft.functions.F.md5Hash64(col(keyCol).cast("string"))
        .as("__erased_id")).distinct()
    val slots = s.read.parquet(cur)
      .select(explode(col("mins")).as("h"))
    leakRow("kmv", "sketch_minima",
      slots.join(broadcast(hashes), slots("h") === hashes("__erased_id"),
        "left_semi"))
  }

  /** Compose per-store reports into one signoff table, leaking-first
    * so a nonzero row is the first thing a reader sees. */
  def report(audits: Seq[DataFrame]): DataFrame =
    audits.reduce(_ unionAll _)
      .orderBy(col("leaked_rows").desc, col("store"), col("surface"))
}
