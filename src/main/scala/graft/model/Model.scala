package graft.model

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, functions => F}

/** The annotated-document data model.
  *
  * Mirrors the reference's Thrift `Record` struct
  * (`/root/reference/modified_files_in_curator/curator-interfaces/curator.thrift:29-44`)
  * and its base view types (recovered from the generated sources in
  * `curator-interfaces.jar`), re-expressed as Scala case classes so Spark can
  * derive `Encoder`s and a columnar `StructType` (FIXTURES.md A2 DDL).
  *
  * Span offsets are half-open character offsets `[start, ending)` into
  * `rawText` (reference usage `CuratorClient.java:1052-1053`).
  */
final case class Span(
    start: Int,
    ending: Int,
    label: String,
    score: Double,
    source: String,
    attributes: Map[String, String])

/** One annotation layer: an ordered list of spans (tokens, sentences, pos,
  * chunk, ner, wikifier). `source` carries tool provenance + version, the
  * staleness key (reference `CuratorHandler.updateRequired`, 816-896). */
final case class Labeling(labels: Seq[Span], source: String, score: Double)

/** Set-of-sets of spans; e.g. coreference (one cluster per entity). */
final case class Clustering(clusters: Seq[Labeling], source: String, score: Double)

/** Tree node: `children` maps node index -> edge label (dependency relation,
  * SRL role). Mirrors base.Node. */
final case class TreeNode(label: String, span: Span, children: Map[Int, String], score: Double)

/** `top` = index of the root node in `nodes` (reference traversal
  * `CuratorClient.java:1119-1141`). */
final case class Tree(nodes: Seq[TreeNode], top: Int, score: Double)

/** One tree per sentence (constituency parse) or per predicate (SRL). */
final case class Forest(trees: Seq[Tree], source: String)

/** Edge between span indices of a generic View. */
final case class SpanRelation(start: Int, ending: Int, label: String, score: Double)

/** Generic span graph (reference base.View). */
final case class GView(spans: Seq[Span], relations: Seq[SpanRelation], source: String, score: Double)

/** The document record: fixed outer schema, open (map-keyed) inner schema —
  * any string key can hold a new annotation layer (SURVEY.md §1.4). */
final case class Record(
    identifier: String,
    rawText: String,
    labelViews: Map[String, Labeling],
    clusterViews: Map[String, Clustering],
    parseViews: Map[String, Forest],
    views: Map[String, GView],
    whitespaced: Boolean) {

  /** All view names present on this record, across the four kind maps. */
  def viewNames: Set[String] =
    labelViews.keySet ++ clusterViews.keySet ++ parseViews.keySet ++ views.keySet

  def viewSource(name: String): Option[String] =
    labelViews.get(name).map(_.source)
      .orElse(clusterViews.get(name).map(_.source))
      .orElse(parseViews.get(name).map(_.source))
      .orElse(views.get(name).map(_.source))
}

object Record {
  /** A fresh, un-annotated record (reference `RecordTools.generateNew`,
    * `infrastructure/RecordTools.java:49-78`). Empty text is rejected at
    * ingest (`CuratorClient.java:527-536`), enforced by the sources. */
  def fresh(rawText: String, whitespaced: Boolean = false): Record =
    Record(Identifier.id(rawText, whitespaced), rawText,
      Map.empty, Map.empty, Map.empty, Map.empty, whitespaced)
}

/** Cross-document record (reference `curator.thrift:46-53`): a corpus-level
  * analogue of Record — member record ids plus the same four open view
  * maps, holding annotations whose scope is the whole group (the server's
  * `provideMulti` is vestigial — throws, `CuratorHandler.java:1129-1133` —
  * so the semantics here are the Spark-native design from SURVEY.md §1.5:
  * "a grouped/aggregated DataFrame keyed by corpus id"). Identity is
  * content-addressed over the sorted member ids. */
final case class MultiRecord(
    identifier: String,
    recordIds: Seq[String],
    labelViews: Map[String, Labeling],
    clusterViews: Map[String, Clustering],
    parseViews: Map[String, Forest],
    views: Map[String, GView]) {
  def viewNames: Set[String] =
    labelViews.keySet ++ clusterViews.keySet ++ parseViews.keySet ++ views.keySet
}

object MultiRecord {
  /** Fresh multi-record over member ids (sorted — identity is order-free). */
  def fresh(recordIds: Seq[String]): MultiRecord = {
    val sorted = recordIds.sorted
    MultiRecord(Identifier.multiId(sorted), sorted,
      Map.empty, Map.empty, Map.empty, Map.empty)
  }
}

/** Content-addressed identity (reference `archive/Identifier.java:63-77`):
  * `identifier = hex(sha1("FLAG:" + whitespaced + ":" + rawText))`. This is
  * the dedup/caching key for the whole system. */
object Identifier {
  def preimage(rawText: String, whitespaced: Boolean): String =
    s"FLAG:$whitespaced:$rawText"

  def id(rawText: String, whitespaced: Boolean): String = {
    val d = MessageDigest.getInstance("SHA-1")
    d.digest(preimage(rawText, whitespaced).getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  /** Column form — lets Catalyst codegen the hash over a whole corpus scan. */
  def idColumn(rawText: Column, whitespaced: Column): Column =
    F.sha1(F.concat(F.lit("FLAG:"), whitespaced.cast("string"), F.lit(":"), rawText))

  /** MultiRecord identity: sha1 over the sorted member ids (same
    * content-addressing scheme, corpus granularity). */
  def multiId(sortedRecordIds: Seq[String]): String = {
    val d = MessageDigest.getInstance("SHA-1")
    d.digest(s"MULTI:${sortedRecordIds.mkString(",")}"
      .getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }
}

/** Structural invariants every record must satisfy (FIXTURES.md A2;
  * reference consistency checks `CuratorReducer.java:512-527`,
  * `CuratorJob.java:172-182`). Used by tests and the verification op. */
object Invariants {
  def violations(r: Record): Seq[String] = {
    val n = r.rawText.length
    val b = Seq.newBuilder[String]
    if (r.rawText.isEmpty) b += "empty rawText"
    if (r.identifier != Identifier.id(r.rawText, r.whitespaced))
      b += s"identifier mismatch: ${r.identifier}"
    def checkSpan(view: String, s: Span): Unit =
      if (!(0 <= s.start && s.start < s.ending && s.ending <= n))
        b += s"$view: span out of bounds [${s.start},${s.ending}) len=$n"
    for ((name, lv) <- r.labelViews; s <- lv.labels) checkSpan(name, s)
    for ((name, cv) <- r.clusterViews; c <- cv.clusters; s <- c.labels) checkSpan(name, s)
    for ((name, v) <- r.views; s <- v.spans) checkSpan(name, s)
    for ((name, fv) <- r.parseViews; t <- fv.trees) {
      if (!(t.nodes.isEmpty && t.top == -1) && !(0 <= t.top && t.top < t.nodes.size))
        b += s"$name: tree top ${t.top} out of range ${t.nodes.size}"
      for (node <- t.nodes) {
        checkSpan(name, node.span)
        for (k <- node.children.keys if k < 0 || k >= t.nodes.size)
          b += s"$name: child index $k out of range ${t.nodes.size}"
      }
    }
    b.result()
  }

  def valid(r: Record): Boolean = violations(r).isEmpty
}
