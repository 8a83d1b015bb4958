package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Batch graph construction from card events (SURVEY §2.H).
  *
  * Reference write path (UpsertBizcardToGraphDB/upsert_bizcard_to_graph_db.py):
  *  - person vertex id = md5-8 of the email local part (:146); vertex
  *    upsert = get-by-id else addV, then overwrite 6 props + `_name`
  *    (single-cardinality overwrite, :89-94) — i.e. LAST WRITE WINS.
  *  - owner vertex id = md5-8 of the owner user id (:96); directed
  *    `knows` edge owner→person with weight 1.0, created only if absent
  *    (:104-109); self-loops skipped (`from != to`, :100-103).
  *
  * The reference's one-record-at-a-time OLTP upserts become set
  * operations here: dedup-by-key with a deterministic priority, which is
  * replay-idempotent by construction (SURVEY §2.J1) and — unlike the
  * reference, which silently drops edges when the owner's own card
  * arrives late (README.md:711-713) — order-independent.
  *
  * Scale posture: [[vertexRows]] and [[edgeRows]] are row-local
  * projections; [[buildGraph]] dedups them with one key-partitioned
  * shuffle each (window by id / dropDuplicates by (src,dst)); nothing
  * is collected. The engine's fold does not run that dedup: it hands the
  * raw rows to [[graft.streaming.CardStream.mergeLww]], whose one window
  * over table ∪ batch, in the same order, resolves the batch's
  * duplicates and the stored rows together
  * ([[graft.streaming.CardStream.graphFold]]).
  */
object GraphBuild {

  /** One vertex row per card, `created_at` kept: id, label, name,
    * `_name`, email, phone_number, company, job_title, created_at.
    * A card without an e-mail gives a null id. */
  def vertexRows(cards: DataFrame): DataFrame =
    cards.select(
      personId(col("email")).as("id"),
      lit("person").as("label"),
      col("name"),
      lower(col("name")).as("_name"), // B11 shadow prop for ci lookup
      col("email"), col("phone_number"), col("company"), col("job_title"),
      col("created_at"))

  /** One `knows` edge row per card, owner → person, weight 1.0 (written
    * but never read by PYMK — kept for fidelity); self-loops and cards
    * without an e-mail dropped. Duplicates kept. */
  def edgeRows(cards: DataFrame): DataFrame =
    cards.select(
        md5_8(col("owner")).as("src"),
        personId(col("email")).as("dst"),
        lit("knows").as("label"),
        lit(1.0).as("weight"))
      .filter(col("src") =!= col("dst"))

  /** Build (vertices, edges) from enriched card events.
    *
    * @param cards DataFrame with owner, name, email, phone_number,
    *              company, job_title, addr, created_at (output of
    *              Parse.enrich or the fixture envelope flattened).
    */
  def buildGraph(cards: DataFrame): (DataFrame, DataFrame) = {
    // H1 vertex upsert: last-write-wins per id, ordered by created_at
    // (tie → arbitrary in the reference's sequential replay; we fix the
    //  deterministic tiebreak max created_at, then max name, then every
    //  other column descending — CardStream.mergeLww's order, so the
    //  engine's fold of the raw rows picks the same winner).
    val rows = vertexRows(cards)
    val w = Window.partitionBy("id")
      .orderBy(desc("created_at") +: rows.columns.filter(_ != "id").map(desc): _*)
    val vertices = rows
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "created_at")

    // H2 edge upsert: distinct (src,dst)
    val edges = edgeRows(cards).dropDuplicates("src", "dst")

    (vertices, edges)
  }

  /** Incremental merge used by the streaming path: union the delta with
    * the existing tables and re-apply the same last-write-wins /
    * distinct rules — idempotent under replay (J1).
    */
  def mergeGraph(vertices: DataFrame, edges: DataFrame,
                 deltaV: DataFrame, deltaE: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("id").orderBy(desc("_pri"))
    val mergedV = vertices.withColumn("_pri", lit(0))
      .unionByName(deltaV.withColumn("_pri", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_pri")
    val mergedE = edges.unionByName(deltaE).dropDuplicates("src", "dst")
    (mergedV, mergedE)
  }
}
