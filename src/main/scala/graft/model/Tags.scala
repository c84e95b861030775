package graft.model

/** Typed domain model for the tag pipeline (SURVEY §1.3).
  *
  * Shapes ported from the reference's typed dicts/dataclasses:
  *  - TagWithConfidence / AITagOutput: refitd_tagger.py:260-291
  *  - CanonicalTags: tag_policy.py:368-435
  *  - SuppressedTag / AppliedDefault / PolicyResult: tag_policy.py:348-469
  *  - TagChanges: tag_comparison.py:53-157 output dict
  */
final case class TagWithConfidence(
    tag: String,
    confidence: Double,
    reasoning: Option[String] = None)

/** Sensor-layer output with confidence scores (refitd_tagger.py:267-291).
  * `category` travels alongside (the reference passes it separately or reads
  * it from the raw dict; we carry it explicitly). */
final case class AiTagOutput(
    category: Option[String] = None,
    styleIdentity: Seq[TagWithConfidence] = Nil,
    fit: Option[TagWithConfidence] = None,
    silhouette: Option[TagWithConfidence] = None,
    length: Option[TagWithConfidence] = None,
    formality: Option[TagWithConfidence] = None,
    context: Seq[TagWithConfidence] = Nil,
    constructionDetails: Seq[TagWithConfidence] = Nil,
    pattern: Option[TagWithConfidence] = None,
    pairingTags: Seq[TagWithConfidence] = Nil,
    shoeType: Option[TagWithConfidence] = None,
    profile: Option[TagWithConfidence] = None,
    closure: Option[TagWithConfidence] = None) {
  def isEmpty: Boolean =
    styleIdentity.isEmpty && fit.isEmpty && silhouette.isEmpty &&
      length.isEmpty && formality.isEmpty && context.isEmpty &&
      constructionDetails.isEmpty && pattern.isEmpty && pairingTags.isEmpty &&
      shoeType.isEmpty && profile.isEmpty && closure.isEmpty
}

/** Canonical confidence-free tags for the generator (tag_policy.py:368-397). */
final case class CanonicalTags(
    category: String,
    styleIdentity: Seq[String] = Nil,
    fit: Option[String] = None,
    silhouette: Option[String] = None,
    length: Option[String] = None,
    context: Seq[String] = Nil,
    constructionDetails: Seq[String] = Nil,
    pattern: Option[String] = None,
    pairingTags: Seq[String] = Nil,
    formality: Option[String] = None,
    topLayerRole: Option[String] = None,
    shoeType: Option[String] = None,
    profile: Option[String] = None,
    closure: Option[String] = None)

final case class SuppressedTag(field: String, tag: String, confidence: Double, reason: String)

final case class AppliedDefault(field: String, value: String, reason: String)

final case class PolicyResult(
    tagsFinal: CanonicalTags,
    curationStatus: String, // "approved" | "needs_review" | "needs_fix"
    curationReasons: Seq[String],
    suppressedTags: Seq[SuppressedTag],
    defaultsApplied: Seq[AppliedDefault],
    tagPolicyVersion: String)

/** Structured diff output (tag_comparison.py:152-157). */
final case class ModifiedField(category: String, from: String, to: String)

final case class TagChanges(
    added: Seq[String],
    removed: Seq[String],
    modified: Seq[ModifiedField],
    unchanged: Seq[String])
