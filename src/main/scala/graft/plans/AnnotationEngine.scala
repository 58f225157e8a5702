package graft.plans

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators.{AnnotationMode, Annotators, ViewOperator}

/** The corpus-level annotation engine: `Dataset[Record]` in, `Dataset[Record]`
  * out.
  *
  * Execution model (SURVEY.md §3 "Spark shape of 3.1+3.2"): the reference's
  * chain of MapReduce jobs — one per dependency level, each with a full
  * shuffle — collapses here into a single narrow `mapPartitions` over one
  * DataFrame lineage: read → annotate₁∘…∘annotateₖ → write, NO shuffle
  * between the annotators. At 100 TB this is the difference between k
  * corpus-wide shuffles and at most one. The pass runs in as many tasks as
  * its input has partitions: input splits follow bytes, and a small corpus
  * (or a `distinct` that adaptive execution coalesces) is one partition,
  * while per-document NLP is CPU-bound. `Pipeline.run` therefore
  * hash-partitions its input by `identifier` into
  * `spark.sql.shuffle.partitions` partitions before calling [[annotate]].
  * Per-executor annotator state is amortized by partition (replacing the
  * reference's per-node server-launch machinery,
  * `CuratorReducer.java:209-378,633-703`).
  */
final class AnnotationEngine(val registry: Map[AnnotationMode, ViewOperator]) extends Serializable {

  /** Open registry: admit dynamic view producers (reference `mention` demo). */
  def withOperator(op: ViewOperator): AnnotationEngine =
    new AnnotationEngine(registry + (op.mode -> op))

  /** Annotate a corpus up to `target`, skipping fresh views, recomputing
    * stale ones plus (sticky cascade) their dependents. One narrow stage.
    * `assumeFresh` modes (a forced-start assertion) are never recomputed,
    * even when their stored `source` differs from the registry's.
    * With `richestPerId`, each partition is sorted by `identifier` and
    * only the richest copy of each identifier in it is annotated and
    * emitted ([[AnnotationEngine.richestOfRuns]]): on input hash-partitioned
    * by `identifier`, the output holds one record per identifier. The sort
    * is local, no exchange. */
  def annotate(
      ds: Dataset[Record],
      target: AnnotationMode,
      force: Boolean = false,
      assumeFresh: Set[AnnotationMode] = Set.empty,
      richestPerId: Boolean = false): Dataset[Record] = {
    val order = Planner.chain(target)
    val reg = registry
    implicit val enc = ds.encoder
    val in = if (richestPerId) ds.sortWithinPartitions("identifier") else ds
    in.mapPartitions { it =>
      val f = Planner.provide(reg, order, force, assumeFresh) _
      (if (richestPerId) AnnotationEngine.richestOfRuns(it) else it).map(f)
    }
  }

  // ------------------------------------------------------------------
  // Corpus inspection operators (reference JobHandler utilities)
  // ------------------------------------------------------------------

  /** D9: random sample of up to k records (`getSampleFilesFromDir`,
    * `JobHandler.java:579-606`; k=25 there). Seeded for reproducibility. */
  def sample(ds: Dataset[Record], k: Int = 25, seed: Long = 42L): Dataset[Record] =
    ds.orderBy(rand(seed)).limit(k)

  /** D10: "lowest common annotation level" — intersection of the view-name
    * sets of the sampled records (`getCommonAnnotations`,
    * `JobHandler.java:494-546`). Distributed: explode + group + count
    * (no driver-side fold). */
  def commonAnnotations(ds: Dataset[Record], sampleK: Int = 25): Set[String] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val sampled = sample(ds, sampleK).cache()
    try {
      val total = sampled.count()
      if (total == 0) Set.empty
      else sampled.flatMap(_.viewNames).toDF("view")
        .groupBy("view").count()
        .filter(col("count") === total)
        .select("view").as[String].collect().toSet
    } finally { sampled.unpersist(); () }
  }

  /** Corpus-level plan: which jobs would the reference launch for this corpus
    * (D12) — sampling-based common-annotation detection feeding the planner. */
  def planForCorpus(
      ds: Dataset[Record],
      target: AnnotationMode,
      forcedStart: Option[AnnotationMode] = None): Seq[AnnotationMode] = {
    val present = commonAnnotations(ds)
      .flatMap(v => AnnotationMode.values.find(_.viewName == v))
    Planner.planJobs(target, present, forcedStart)
  }

  /** Cross-document grouping (reference `MultiRecord`, `curator.thrift:
    * 46-53`; SURVEY.md §1.5 maps it to "a grouped DataFrame keyed by
    * corpus id"): collect member identifiers per key into content-addressed
    * MultiRecords, ready to carry corpus-level views. */
  def groupCorpus(ds: Dataset[Record], keyFn: Record => String): Dataset[(String, MultiRecord)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(r => (keyFn(r), r.identifier))
      .groupByKey(_._1)
      .mapGroups((k, it) => (k, MultiRecord.fresh(it.map(_._2).toSeq)))
  }

  /** D16: per-view verification/diff of two corpora joined by identifier
    * (`CuratorClient.verifyRecords`, 660-853). Returns (identifier, view,
    * matches) rows for every view present on either side; a record present
    * in only one corpus yields (id, "<record>", false) — a missing record
    * is the most important mismatch to surface, so the join is full outer,
    * not inner. */
  def verify(actual: Dataset[Record], expected: Dataset[Record]):
      Dataset[(String, String, Boolean)] = {
    val spark = actual.sparkSession
    import spark.implicits._
    actual.map(r => r.identifier -> r).toDF("id", "a")
      .join(expected.map(r => r.identifier -> r).toDF("id", "e"), Seq("id"), "full_outer")
      .as[(String, Record, Record)]
      .flatMap { case (id, a, e) =>
        if (a == null || e == null) Seq((id, "<record>", false))
        else (a.viewNames ++ e.viewNames).toSeq.sorted.map { v =>
          val m = (a.labelViews.get(v) == e.labelViews.get(v)) &&
            (a.clusterViews.get(v) == e.clusterViews.get(v)) &&
            (a.parseViews.get(v) == e.parseViews.get(v)) &&
            (a.views.get(v) == e.views.get(v))
          (id, v, m)
        }
      }
  }

  /** D17: raw-text consistency — Levenshtein(before, after) must be <= tol
    * (documented intent of `CuratorReducer.dieIfTextDoesntMatch`, 512-527;
    * the reference's impl self-compares, we implement the intent). */
  def textConsistent(before: Dataset[Record], after: Dataset[Record], tol: Int = 10): Dataset[(String, Boolean)] = {
    val spark = before.sparkSession
    import spark.implicits._
    val b = before.select(col("identifier"), col("rawText").as("before"))
    val a = after.select(col("identifier"), col("rawText").as("after"))
    b.join(a, "identifier")
      .select(col("identifier"), levenshtein(col("before"), col("after")) <= tol)
      .as[(String, Boolean)]
  }
}

object AnnotationEngine {
  /** Engine with the default deterministic operator registry. */
  val default: AnnotationEngine = new AnnotationEngine(Annotators.registry)

  /** The richest record of each run of equal identifiers in `it`, in
    * `Sources.upsert`'s order: most view names, then the smallest sorted
    * name list. A run of one record passes through without comparing. */
  def richestOfRuns(it: Iterator[Record]): Iterator[Record] = {
    val in = it.buffered
    def names(r: Record) = r.viewNames.toSeq.sorted.mkString(",")
    def richer(a: Record, b: Record) = {
      val (na, nb) = (a.viewNames.size, b.viewNames.size)
      na > nb || (na == nb && names(a) < names(b))
    }
    new Iterator[Record] {
      def hasNext: Boolean = in.hasNext
      def next(): Record = {
        var best = in.next()
        while (in.hasNext && in.head.identifier == best.identifier) {
          val r = in.next()
          if (richer(r, best)) best = r
        }
        best
      }
    }
  }
}
