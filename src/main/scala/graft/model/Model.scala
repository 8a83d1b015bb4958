package graft.model

import org.apache.spark.sql.types._

/** Typed data model of the engine (SURVEY §1).
  *
  * One fixed, explicit schema per dataset — the reference is
  * schema-on-read JSON everywhere (SURVEY §1.3); we make the de-facto
  * schema explicit so Catalyst can prune/push down and Tungsten can lay
  * rows out columnar.
  */

/** Card-payload fields parsed from OCR text.
  * Reference producer: GetTextFromS3Image/get_text_from_s3_image.py:37-56;
  * spec README.md:244-282. */
case class CardData(
    addr: String,
    email: String,
    phone_number: String,
    company: String,
    name: String,
    job_title: String,
    created_at: String)

/** The envelope put on the text Kinesis stream
  * (get_text_from_s3_image.py:189). */
case class CardEvent(
    s3_bucket: String,
    s3_key: String,
    owner: String,
    data: CardData)

/** Enriched search document — the ES table row
  * (upsert_bizcard_to_es.py:66-75; README.md:286-319). */
case class Bizcard(
    doc_id: String,
    image_id: String,
    owner: String,
    is_alive: Int,
    content_id: String,
    addr: String,
    email: String,
    phone_number: String,
    company: String,
    name: String,
    job_title: String,
    created_at: String)

/** Person vertex (upsert_bizcard_to_graph_db.py:91-94; README.md:350-357). */
case class PersonVertex(
    id: String,
    label: String,
    name: String,
    _name: String,
    email: String,
    phone_number: String,
    company: String,
    job_title: String)

/** Directed `knows` edge (upsert_bizcard_to_graph_db.py:104-109;
  * README.md:359-364). */
case class KnowsEdge(src: String, dst: String, label: String, weight: Double)

/** Per-user album entry — the bizcard-by-user/{owner}/ S3 copy layout
  * (get_text_from_s3_image.py:148-159), keyed by (owner, image_id).
  * The engine stores all entries as one table sorted by owner, not a
  * directory per owner, and reads it with this schema: `owner` is a
  * string, so numeric owners such as "0042" keep their digits. */
case class AlbumEntry(
    owner: String,
    image_id: String,
    doc_id: String,
    s3_bucket: String,
    s3_key: String)

/** PYMK response row — the Gremlin `valueMap()` shape: every property
  * an array<string>, score double (README.md:182-219). */
case class PymkResponse(
    name: Seq[String],
    email: Seq[String],
    phone_number: Seq[String],
    company: Seq[String],
    job_title: Seq[String],
    score: Double)

/** Image-processing status row — the DynamoDB table
  * `OctemberBizcardImgMeta` (octember_bizcard_stack.py:256-263;
  * trigger_text_extract_from_s3_image.py:58-84). Status machine
  * START → PROCESS → END, last-write-wins by `mts`. */
case class ImageStatus(
    image_id: String,
    s3_bucket: String,
    s3_key: String,
    mts: Long,
    status: String)

/** OCR input contract: ordered Textract LINE texts per image
  * (get_text_from_s3_image.py:70-71). OCR itself is an external AI
  * service — out of engine scope (SURVEY §2.A4); this is the seam. */
case class OcrDoc(s3_bucket: String, s3_key: String, text_lines: Seq[String])

object Schemas {
  val cardData: StructType = StructType(Seq(
    StructField("addr", StringType),
    StructField("email", StringType),
    StructField("phone_number", StringType),
    StructField("company", StringType),
    StructField("name", StringType),
    StructField("job_title", StringType),
    StructField("created_at", StringType)))

  val cardEvent: StructType = StructType(Seq(
    StructField("s3_bucket", StringType),
    StructField("s3_key", StringType),
    StructField("owner", StringType),
    StructField("data", cardData)))

  val ocrDoc: StructType = StructType(Seq(
    StructField("s3_bucket", StringType),
    StructField("s3_key", StringType),
    StructField("text_lines", ArrayType(StringType))))
}
