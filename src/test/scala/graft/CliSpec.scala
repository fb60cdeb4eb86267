package graft

import graft.pipeline.PipelineRunner
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The `PipelineRunner` command-line contract: every verb's flags are
  * checked against its declaration before the verb body runs, and
  * `--help` renders the same declarations.
  */
class CliSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession
    .builder("graft-cli-test", "local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val docs = s"$sf/documents.parquet"

  /** Runs `args`, expects a rejection naming `verb` and `flag`, and
    * checks that none of `outputs` was created.
    */
  private def rejected(args: Array[String], verb: String, flag: String, outputs: String*): String = {
    val e = intercept[IllegalArgumentException](PipelineRunner.run(args, spark))
    assert(e.getMessage.startsWith(s"$verb: "), e.getMessage)
    assert(e.getMessage.contains(flag), e.getMessage)
    outputs.foreach(o => assert(!Files.exists(Paths.get(o)), s"$o created by a rejected command line"))
    e.getMessage
  }

  test("a typo'd, valueless, dangling, duplicated, non-boolean or missing flag fails before any output") {
    val root = Files.createTempDirectory("graft-cli-reject").toString
    val (state, out) = (s"$root/state", s"$root/out")
    val base = Array("--maintenance", "dup_spans", "--batch", docs, "--state", state, "--out", out)
    val cases = Seq(
      (base ++ Array("--min-tokens", "3"), "--min-tokens", "unknown flag"),
      (Array("--maintenance", "dup_spans", "--batch", docs, "--state", state, "--out", "--min_tokens", "3"),
        "--out", "needs a value"),
      (base :+ "--min_tokens", "--min_tokens", "needs a value"),
      (base ++ Array("--out", s"$root/out2"), "--out", "given twice"),
      (base ++ Array("--check_doc_reuse", "yes"), "--check_doc_reuse", "true or false"),
      (Array("--maintenance", "dup_spans", "--batch", docs, "--out", out), "--state", "required")
    )
    for ((args, flag, why) <- cases)
      assert(rejected(args, "dup_spans", flag, state, out, s"$root/out2").contains(why))
    // the same command line without a fault runs and creates both
    PipelineRunner.run(base, spark)
    assert(Files.exists(Paths.get(state)) && Files.exists(Paths.get(out)))
    // a typo no longer falls back to the default silently
    rejected(Array("--maintenance", "compact", "--path", s"$root/out", "--target-mb", "64"),
      "compact", "--target-mb")
    val e = intercept[IllegalArgumentException](PipelineRunner.run(Array("--maintenance", "compactt"), spark))
    assert(e.getMessage.contains("unknown --maintenance verb: compactt"), e.getMessage)
  }

  test("former .toBoolean flags: a non-boolean value names the verb and flag") {
    val root = Files.createTempDirectory("graft-cli-bool1").toString
    val msg = rejected(
      Array("--maintenance", "semantic_dedup_ingest", "--raw", root, "--index", s"$root/index",
        "--drops", s"$root/drops", "--checkpoint", s"$root/ckpt", "--resolve_survivors", "yes"),
      "semantic_dedup_ingest", "--resolve_survivors", s"$root/index", s"$root/drops", s"$root/ckpt"
    )
    assert(!msg.contains("For input string"), msg)
  }

  test("former default-on flags: --span_clean no is rejected, not read as on") {
    val out = Files.createTempDirectory("graft-cli-bool2").toString + "/curated"
    rejected(
      Array("--maintenance", "curate", "--data", sf, "--out", out,
        "--span_clean", "no"),
      "curate", "--span_clean", out
    )
  }

  test("former default-off flags: --render True and --provenance yes are rejected, not read as off") {
    val root = Files.createTempDirectory("graft-cli-bool3").toString
    rejected(
      Array("--maintenance", "branch_pairs", "--turns", root, "--out", s"$root/pairs", "--render", "True"),
      "branch_pairs", "--render", s"$root/pairs"
    )
    rejected(
      Array("--maintenance", "release", "--data", sf, "--eval", root,
        "--out", s"$root/rel", "--provenance", "yes"),
      "release", "--provenance", s"$root/rel"
    )
  }

  test("--help lists every verb and the EP2 entry; --maintenance V --help one verb") {
    def help(args: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(PipelineRunner.run(args.toArray, spark))
      buf.toString("UTF-8")
    }
    val all = help("--help")
    val listed = "(?m)^  --maintenance (\\S+)".r.findAllMatchIn(all).map(_.group(1)).toSeq
    val verbs = Seq(
      "apportion_budget", "apportion_phases", "bpe_segment", "branch_pairs", "bt_ratings",
      "build_bpe_model", "build_quality_model", "build_vocab", "chunk", "chunk_stream",
      "cluster_best", "compact", "compact_partitions", "curate", "curate_ingest", "curate_stream",
      "decode_packs", "decontam_fuzzy", "decontam_fuzzy_stream", "decontam_semantic",
      "decontam_semantic_stream", "decontam_stream", "decontaminate", "dpo_release", "drift_manifest",
      "dsir_score", "dsir_stream", "dsir_weights", "dup_spans", "efficiency_sweep", "expire",
      "fertility_stream", "leakage_split", "lease_break", "lease_report", "mask_intervals",
      "materialize_features", "mixture_weights", "pack_boundaries", "pack_curated_stream",
      "pack_efficiency", "pack_epochs", "pack_export", "pack_ingest", "pack_ingest_by",
      "pack_provenance", "pack_resume", "pack_slices", "pack_stream", "pack_stream_by", "pref_pairs",
      "pref_stream", "rebalance_vector_index", "release", "retire_packs", "semantic_dedup_ingest",
      "sft_masks", "sft_release", "snapshot_diff", "span_dedup_ingest", "span_state_compact",
      "span_state_report", "tree_paths", "tree_render", "tree_state", "tree_state_report",
      "tree_state_reshard", "turns_backfill", "turns_stream", "verify_export", "vocab_coverage",
      "win_ingest", "win_stream"
    )
    assert(listed.sorted == verbs, listed.diff(verbs) ++ verbs.diff(listed))
    val entry = "(?m)^  --bucket .*".r.findAllIn(all).toSeq
    assert(entry.size == 1 && all.contains("--raw_file_name FILE") && all.contains("--fail_fast BOOL=false"), all)
    val one = help("--maintenance", "compact", "--help")
    assert(one.startsWith("  --maintenance compact --path DIR [--target_mb MB=128]\n"), one)
    assert("--maintenance".r.findAllIn(one).size == 1, one)
  }
}
