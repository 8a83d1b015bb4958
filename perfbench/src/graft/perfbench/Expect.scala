package graft.perfbench

import scala.collection.mutable

/** The benchmark's own model of what the engine must answer, kept in
  * plain collections and updated with every batch the engine ingests.
  *
  * Ids use the engine's md5-8 scheme (doc id = md5-8 of the image id,
  * person id = md5-8 of the e-mail local part, owner id = md5-8 of the
  * owner), so a seeded id collision merges here exactly as the engine's
  * last-write-wins merge does: every card has a distinct `created_at`,
  * and the newest card of an id wins. */
final class Expect {
  import Expect._

  private val docs = mutable.HashMap.empty[String, Card]            // doc_id -> card
  private val docTerms = mutable.HashMap.empty[String, Set[String]] // doc_id -> tokens
  private val postings = mutable.HashMap.empty[String, mutable.HashSet[String]]
  private val vertex = mutable.HashMap.empty[String, Card]          // id -> newest card
  private val edges = mutable.HashSet.empty[(String, String)]
  private val adj = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]

  def add(batch: Seq[Card]): Unit = batch.foreach { c =>
    val docId = md5_8(imageId(c.s3_key))
    if (docs.get(docId).forall(_.created_at < c.created_at)) {
      docTerms.get(docId).foreach(_.foreach(t => postings(t) -= docId))
      val terms = SearchFields.flatMap(f => tokens(field(c, f))).toSet
      docs(docId) = c; docTerms(docId) = terms
      terms.foreach(t => postings.getOrElseUpdate(t, mutable.HashSet.empty) += docId)
    }
    val pid = md5_8(c.email.takeWhile(_ != '@'))
    if (vertex.get(pid).forall(_.created_at < c.created_at)) vertex(pid) = c
    val oid = md5_8(ownerFromKey(c.s3_key))
    if (oid != pid && edges.add((oid, pid))) {
      adj.getOrElseUpdate(oid, mutable.ArrayBuffer.empty) += pid
      adj.getOrElseUpdate(pid, mutable.ArrayBuffer.empty) += oid
    }
  }

  /** Ids of the live docs a search must draw its hits from: the owner
    * filter holds and a query term occurs in a boosted field. */
  def searchMatches(req: SearchReq): Set[String] = {
    val terms = queryTerms(req.query)
    terms.flatMap(t => postings.getOrElse(t, Set.empty[String])).toSet
      .filter(d => req.owner.forall(_ == ownerFromKey(docs(d).s3_key)))
  }

  def doc(docId: String): Option[Card] = docs.get(docId)

  /** The exact PYMK answer: 2-hop path counts over the undirected bag of
    * `knows` edges from the vertex named `name`, direct friends and the
    * anchor excluded, ranked by (count desc, id asc), top `limit`,
    * joined to the newest vertex properties. */
  def pymk(name: String, limit: Int): Vector[PymkRow] =
    vertex.collectFirst { case (id, c) if c.name.toLowerCase == name.toLowerCase => id }
      .fold(Vector.empty[PymkRow]) { anchor =>
        val friends = adj.getOrElse(anchor, mutable.ArrayBuffer.empty[String])
        val friendSet = friends.toSet
        val counts = mutable.HashMap.empty[String, Long]
        for (f <- friends; c <- adj.getOrElse(f, Nil)
             if c != anchor && !friendSet(c))
          counts(c) = counts.getOrElse(c, 0L) + 1
        counts.toVector.sortBy { case (id, n) => (-n, id) }.take(limit).map {
          case (id, n) =>
            val v = vertex(id)
            PymkRow(v.name, v.email, v.phone_number, v.company, v.job_title, n.toDouble)
        }
      }
}

final case class PymkRow(name: String, email: String, phone: String,
                         company: String, title: String, score: Double)

object Expect {
  val SearchFields: Seq[String] = Seq("name", "company", "job_title", "addr")

  def field(c: Card, f: String): String = f match {
    case "name" => c.name
    case "company" => c.company
    case "job_title" => c.job_title
    case "addr" => c.addr
  }

  /** The engine's tokenizer: lower-case, split on whitespace runs. */
  def tokens(s: String): Seq[String] =
    if (s == null) Nil else s.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
  def queryTerms(q: String): Seq[String] = tokens(q)

  def md5_8(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
  def imageId(key: String): String = key.substring(key.lastIndexOf('/') + 1)
  def ownerFromKey(key: String): String = imageId(key).takeWhile(_ != '_')
}
