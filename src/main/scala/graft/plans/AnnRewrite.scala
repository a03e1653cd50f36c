package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Literal, NamedExpression, SortOrder, Descending}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import graft.functions.CosineSimilarity

/** Registry of persisted IVF indexes eligible for the APPROXIMATE
  * top-k rewrite — the ANN "navigator", the vector-search sibling of
  * [[CubeRegistry]]'s aggregate navigator. Registering an index is an
  * explicit OPT-IN to approximation (the materialized-view
  * `stale_tolerated` convention): a registered base table's
  * brute-force top-k cosine queries are served from the index's probed
  * cells — the documented IVF recall trade, never a silent default.
  *
  * The centroid model (bounded: the literal-path cell count) is taken
  * from the IVF model cache at registration and held here: the
  * quantizer is frozen, so only a rebuild in place changes it, and a
  * rebuilt index is re-registered. The lists are not held: each rule
  * firing resolves the live cells generation (a pointer read) and reads
  * it with the cached schema, so appends, erases and compactions of the
  * index are served without re-registering, and a firing runs no Spark
  * job while the index's model is cached. */
object AnnIndexRegistry {
  case class Index(basePath: String, indexRoot: String, idCol: String,
                   embCol: String, cents: Seq[Seq[Float]], probes: Int)

  @volatile private var indexes: List[Index] = Nil

  def register(s: SparkSession, basePath: String, indexRoot: String,
               idCol: String, embCol: String,
               probes: Int = graft.ops.Similarity.IvfProbes): Unit = {
    val cents = graft.ops.Similarity.indexCentroids(s, indexRoot)
    require(cents.isDefined,
      s"index $indexRoot exceeds the literal-path cell bound; the " +
        "navigator snapshot would not be driver-sized")
    synchronized {
      indexes = Index(basePath, indexRoot, idCol, embCol, cents.get,
        probes) :: indexes
    }
  }

  def clear(): Unit = synchronized { indexes = Nil }
  def all: Seq[Index] = indexes
}

/** Optimizer rule: rewrite `corpus.select(id, cosine_sim(emb, LITERAL)
  * .as(c)).orderBy(desc(c)).limit(k)` — the brute-force ANN shape —
  * over a REGISTERED base table into the same expression over only the
  * index's probed cells. The probe-cell set is computed AT PLANNING
  * TIME on the driver (the QuantCellOrder argsort itself, through
  * Similarity.cellOrderOf, against the registration's centroids, so
  * the pruning agrees bit-for-bit with every other quantizer
  * consumer); the rewritten plan scans `cell IN (probed)` partitions
  * of the index's live cells generation instead of the corpus —
  * partition-pruned at the source. Sort and
  * limit stay: approximation enters ONLY through cell pruning, which
  * is precisely IVF's recall trade (spec-pinned ≥ the q192 recall
  * floor). Non-matching plans — filtered scans, extra projections,
  * non-literal queries, unregistered tables — are left untouched;
  * output attribute ids are restored through a top Project so parent
  * operators resolve unchanged. */
case class AnnIndexRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def scanPath(plan: LogicalPlan): Option[String] = plan match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.toUri.getPath)
      case _ => None
    }
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      scanPath(child)
    case _ => None
  }

  private def indexFor(plan: LogicalPlan): Option[AnnIndexRegistry.Index] =
    scanPath(plan).flatMap { p =>
      // segment-boundary match only: a bare endsWith would let an
      // unrelated table whose path merely ends with the registered
      // string ("backup_data/embeddings.parquet") silently serve wrong
      // neighbors from the wrong index
      AnnIndexRegistry.all.find(ix => p == new org.apache.hadoop.fs.Path(
        ix.basePath).toUri.getPath || p.endsWith("/" + ix.basePath))
    }

  /** The first `probes` cells of the query vector. */
  private def probeCells(ix: AnnIndexRegistry.Index, q: Array[Float]): Seq[Int] = {
    // a dimension mismatch means a stale registration (index built
    // from an older embedding version) — surface it, never truncate
    ix.cents.foreach(c => require(c.length == q.length,
      s"query dim ${q.length} != index centroid dim ${c.length} — " +
        "re-register the index for the current embedding version"))
    graft.ops.Similarity.cellOrderOf(ix.cents)(q).take(ix.probes).toSeq
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case gl @ GlobalLimit(Literal(k: Int, _),
        LocalLimit(_, Sort(Seq(SortOrder(cosAttr: AttributeReference,
          Descending, _, _)), true, Project(projList, child), _))) =>
      rewriteOrKeep(gl, k, cosAttr, projList, child)
  }

  private def rewriteOrKeep(orig: LogicalPlan, k: Int,
                            cosAttr: AttributeReference,
                            projList: Seq[NamedExpression],
                            child: LogicalPlan): LogicalPlan = {
    val matched = for {
      ix <- indexFor(child)
      if projList.length == 2
      idAttr <- projList.collectFirst {
        case a: AttributeReference if a.name == ix.idCol => a
      }
      (qvec, cosAlias) <- projList.collectFirst {
        case al @ Alias(CosineSimilarity(e: AttributeReference,
            Literal(v: ArrayData, _)), _)
            if e.name == ix.embCol && al.exprId == cosAttr.exprId =>
          (v.toFloatArray, al)
        case al @ Alias(CosineSimilarity(Literal(v: ArrayData, _),
            e: AttributeReference), _)
            if e.name == ix.embCol && al.exprId == cosAttr.exprId =>
          (v.toFloatArray, al)
      }
    } yield (ix, idAttr, qvec, cosAlias)

    matched.fold(orig) { case (ix, idAttr, qvec, cosAlias) =>
      import org.apache.spark.sql.functions.{col, typedlit}
      val probed = probeCells(ix, qvec)
      val probe = graft.ops.Similarity.liveCells(session, ix.indexRoot)
        .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
        .select(col("vid"),
          graft.functions.F.cosineSim(col("c_emb"),
            typedlit(qvec.toSeq)).as("cos"))
        .orderBy(col("cos").desc)
        .limit(k)
      val newPlan = probe.queryExecution.analyzed
      val Seq(vidOut, cosOut) = newPlan.output
      Project(Seq(
        Alias(org.apache.spark.sql.catalyst.expressions.Cast(
          vidOut, idAttr.dataType), idAttr.name)(exprId = idAttr.exprId),
        Alias(org.apache.spark.sql.catalyst.expressions.Cast(
          cosOut, cosAlias.dataType), cosAlias.name)(exprId = cosAlias.exprId)),
        newPlan)
    }
  }
}
