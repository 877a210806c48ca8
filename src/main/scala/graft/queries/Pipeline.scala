package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.TextHash._
import graft.operators.{DedupOps, MultimodalOps, PQOps, RetrievalOps, SimilarityOps, TextOps}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing) over `documents` / `embeddings`, each with
  * a DuckDB oracle built from the same shared hash/cosine definitions
  * ([[graft.functions.TextHash]]), so both engines compute identical values.
  */
object Pipeline {

  import PipelineBandDedupText._
  import PipelineBandAnnLayout._
  import PipelineBandCuration._
  import PipelineBandTokenizer._
  import PipelineBandCorpusModels._
  import PipelineBandScaleUrl._


  val all: Seq[QueryDef] = Seq(
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43,
    q45, q46, q48, q49, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59,
    q60, q61, q62, q63, q64, q65, q66, q67, q68, q69, q70, q71, q72, q73,
    q74, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90,
    q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103,
    q104, q105, q106, q107, q108, q109, q110, q111, q112, q113, q114,
    q115, q116, q117, q118, q119, q120, q121, q122, q123, q124, q125,
    q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136,
    q137, q138, q139, q140, q141, q142, q143, q144, q145, q146, q147,
    q148, q149, q150, q151, q152, q153, q154, q155, q156, q157, q158,
    q159, q160, q161, q162, q163, q164, q165, q166, q167, q168, q169,
    q170, q171, q172, q173, q174, q175, q176, q177, q178, q179, q180,
    q181, q182, q183, q184, q185, q186, q187, q188, q189, q190, q191, q192,
    q193, q194, q195, q196, q197, q198, q199, q200, q201, q202, q203,
    q204, q205, q206, q207, q208, q209, q210)
}

/** The media near-dup queries (q86/q87/q89) factored into CORPUS SYNTHESIS
  * and OPERATOR halves with one shared definition, so the bench can persist
  * the synthetic corpus outside its timed reps (the z_ztbus fixture
  * discipline) while the registered query bodies — corpus ∘ operator —
  * stay byte-identical to what CORRECTNESS checks. Rationale: the corpus
  * builders run a real codec encode per document (javax.sound WAV framing,
  * PNG deflate, Y4M plane assembly) purely to MANUFACTURE the test input;
  * timing that inside every rep means the bench number moves with encoder
  * throughput, not with the discovery/verify operators the query exists to
  * gate. */
object MediaNearDup {
  import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
  import graft.operators.MultimodalOps.MediaRow

  def imageCorpus(s: SparkSession, dir: String): Dataset[MediaRow] =
    MultimodalOps.syntheticImageCorpus(
      Tables.documents(s, dir), col("doc_id"), col("text"))(s)
  def audioCorpus(s: SparkSession, dir: String): Dataset[MediaRow] =
    MultimodalOps.syntheticAudioCorpus(
      Tables.documents(s, dir), col("doc_id"), col("text"))(s)
  def videoCorpus(s: SparkSession, dir: String): Dataset[MediaRow] =
    MultimodalOps.syntheticVideoCorpus(
      Tables.documents(s, dir), col("doc_id"), col("text"))(s)

  def imageOp(media: Dataset[MediaRow])(implicit s: SparkSession): DataFrame =
    MultimodalOps.imageNearDupPairs(
      MultimodalOps.imageDHash(media).toDF(), maxHamming = 6)
  def audioOp(media: Dataset[MediaRow])(implicit s: SparkSession): DataFrame =
    MultimodalOps.audioNearDupPairs(
      MultimodalOps.audioEnvHash(media).toDF(), maxHamming = 6)
  def videoOp(media: Dataset[MediaRow])(implicit s: SparkSession): DataFrame =
    MultimodalOps.videoNearDupPairs(
      MultimodalOps.videoFrameHashes(media).toDF(), maxHamming = 6)

  /** (name, corpus, operator) triples: the harness scenario table
    * (`graft.tools.Harness`) times each operator over its persisted
    * corpus. */
  def faces: Seq[(String,
      (SparkSession, String) => Dataset[MediaRow],
      Dataset[MediaRow] => SparkSession => DataFrame)] = Seq(
    ("q86_image_neardup", imageCorpus, m => s => imageOp(m)(s)),
    ("q87_audio_neardup", audioCorpus, m => s => audioOp(m)(s)),
    ("q89_video_neardup", videoCorpus, m => s => videoOp(m)(s)))
}
