package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed MULTIMODAL curation capstone — the media analog of
  * [[Curation.curateCorpus]] (text's composed pipeline): for each
  * modality, the quality gate runs first (cheap, partition-local,
  * named reasons), then the perceptual dedup runs over gate
  * SURVIVORS only (the expensive stage sees the smallest corpus —
  * the same stage order the text pipeline uses), and a keep-first
  * rule drops every clip/image that near-dups a smaller-id survivor.
  * Returns ONE inventory row per (doc_id, modality):
  * (doc_id, modality, keep, reason) with reason = "" for kept rows,
  * the gate's own named reasons for gate drops, or "dup_of:<id>" for
  * dedup drops — the audit frame a 100 TB media-curation run ends
  * with (counts per (modality, reason) are one groupBy away).
  *
  * Keep-first (the default) is the PAIRWISE rule: a row is dropped
  * iff it near-dups ANY smaller-id gate survivor, whether or not
  * that partner itself survives dedup (`dup_of` names the smallest
  * such partner) — the published greedy rule. Its divergence from
  * canonicalization is the STAR shape: variants 0~2 and 1~2 with
  * 0≁1 keep BOTH 0 and 1 (neither pairs with a smaller id).
  * `canonical = true` (r10) switches the dedup stage to
  * connected-components canonicalization — [[Dedup.dedupGroups]]'
  * engine pointed at the same pair frames: each component keeps
  * exactly its smallest id and `dup_of` names the component
  * representative, so variant stars and re-upload chains collapse
  * to one survivor. The gate stage and the pair frames are
  * IDENTICAL under both rules (spec-asserted); only the drop rule
  * changes.
  */
object MediaPipeline {

  private[graft] def inventory(ids: DataFrame, gate: DataFrame,
      pairs: DataFrame, modality: String,
      canonical: Boolean = false): DataFrame = {
    val dupOf =
      if (canonical) {
        // components canonicalization (the upgrade the keep-first
        // scaladoc names): each near-dup component keeps exactly its
        // smallest id; a chain a~b~c with a≁c keeps ONLY a, and
        // dup_of names the component representative (the group_id),
        // not the nearest partner — dedupGroups' engine pointed at
        // this pair frame
        val verts = pairs.select(col("a_id").as("id"))
          .unionByName(pairs.select(col("b_id").as("id"))).distinct()
        Dedup.connectedComponents(verts,
            pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
          .where(col("label") =!= col("id"))
          .select(col("id").as("doc_id"), col("label").as("dup_src"))
      } else
        // published greedy keep-first: smallest near-dup partner per
        // dropped doc (pairs carry a_id < b_id, so the b side is the
        // drop candidate); a~b~c with a≁c keeps a AND c
        pairs.groupBy(col("b_id").as("doc_id"))
          .agg(min(col("a_id")).as("dup_src"))
    ids.join(gate, Seq("doc_id"), "left")
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), lit(modality).as("modality"),
        (coalesce(col("keep"), lit(false)) && col("dup_src").isNull)
          .as("keep"),
        when(!coalesce(col("keep"), lit(false)),
            coalesce(col("fail_reasons"), lit("missing")))
          .when(col("dup_src").isNotNull,
            concat(lit("dup_of:"), col("dup_src")))
          .otherwise(lit("")).as("reason"))
  }

  /** Full three-modality run over the decode-once frames — the
    * capstone is pure frame algebra: gates are projections, pair
    * frames band-join 16-byte hash rows, no payload is touched.
    * Inputs: `imgProfile` ([[MultimodalOps.imageProfile]], whose
    * thresholds are the image gate's), `audProfile`
    * ([[AudioOps.audioProfile]]), `vidMeta` ([[VideoOps.videoMeta]],
    * the container-parse gate) and `vidFrameHashes`, the
    * (doc_id, frame_idx, fhash) projection of
    * [[VideoOps.videoFrameProfiles]] through [[VideoOps.frameHashes]].
    * The caller pins the profile and hash frames (the dedup reads each
    * from several subtrees). The dedup consumes gate SURVIVORS' hashes
    * via [[Dedup.perceptualPairsFrom]] / [[Dedup.videoDedupPairs]];
    * degenerate hashes are excluded twice over (gate + the profile's
    * own validity flag). The frame hashes may cover all clips — an
    * undecodable container yields no hash rows, and restricting to
    * gate survivors happens in the semi-join below either way.
    */
  def curateMedia(imgProfile: DataFrame, audProfile: DataFrame,
      vidMeta: DataFrame, vidFrameHashes: DataFrame,
      maxHamming: Int = 5, canonical: Boolean = false): DataFrame = {
    val imgGate = imgProfile
      .select(col("docId").as("doc_id"), col("keep"),
        col("failReasons").as("fail_reasons"))
    val imgIds = imgProfile.select(col("docId").as("doc_id"))
    val imgPairs = Dedup.perceptualPairsFrom(
      imgProfile.where(col("keep") && col("decoded"))
        .select(col("docId"), col("dhash")), maxHamming)

    val audGate = audProfile
      .select(col("docId").as("doc_id"), col("keep"),
        col("failReasons").as("fail_reasons"))
    val audIds = audProfile.select(col("docId").as("doc_id"))
    val audPairs = Dedup.perceptualPairsFrom(
      audProfile.where(col("keep") && col("hashValid"))
        .select(col("docId"), col("ehash")), maxHamming)

    // video gate = real container parse succeeding with >= 1 frame
    val vidGate = vidMeta
      .select(col("docId").as("doc_id"), col("decoded").as("keep"),
        when(col("decoded"), lit("")).otherwise(lit("undecodable"))
          .as("fail_reasons"))
    val vidIds = vidMeta.select(col("docId").as("doc_id"))
    val vidKeepSet = vidGate.where(col("keep")).select("doc_id")
    val vidPairs = Dedup.videoDedupPairs(
      vidFrameHashes.join(vidKeepSet, "doc_id"), maxHamming)
      .select("a_id", "b_id")

    inventory(imgIds, imgGate, imgPairs.select("a_id", "b_id"), "image",
        canonical)
      .unionByName(inventory(audIds, audGate,
        audPairs.select("a_id", "b_id"), "audio", canonical))
      .unionByName(inventory(vidIds, vidGate, vidPairs, "video", canonical))
  }
}
