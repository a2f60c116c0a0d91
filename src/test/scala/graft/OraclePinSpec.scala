package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Pins every oracle SQL string by digest (the first 16 hex digits of its
  * SHA-256), so moving or rewriting a query cannot change what Verify's DuckDB
  * compare runs without this spec failing. An intended oracle change
  * updates its pin here, in the same commit.
  */
class OraclePinSpec extends AnyFunSuite {

  private val Pins: Map[String, String] = Map(
    "a1_group_counts" -> "314bd2929baf47aa",
    "a4_contingency" -> "a3fee5d2bcec6039",
    "a5_eval_scores" -> "2e9e225dd2da8d87",
    "ael_templates" -> "d1fa2d47249792b4",
    "agg_distinct" -> "952c0d873df0fc7e",
    "agg_rollup" -> "ae462d28ef53d445",
    "ann_brute_topk" -> "82c9fcc42f612074",
    "ann_ivf_topk" -> "82c9fcc42f612074",
    "ann_lsh_topk" -> "82c9fcc42f612074",
    "ann_topk_join" -> "8fcf5ae480af22b8",
    "brain_templates" -> "9bf0e834403981c4",
    "d_components" -> "d5360734f1f7a1b1",
    "d_embed_pairs" -> "58a07ec0477f7f31",
    "d_exact_dedup" -> "905b2ee463e49d04",
    "d_exact_groups" -> "2149739fa40f8d84",
    "d_incremental" -> "116ef9263868dcba",
    "d_jaccard_pairs" -> "09071cf165b8dbe0",
    "d_minhash_pairs" -> "c9063a4c507370f3",
    "d_para_dedup" -> "4d3bbc3b4450ea0f",
    "d_simhash_pairs" -> "8da1ded9d0e211d2",
    "e_hourly" -> "7dfbba85b0ec494f",
    "e_json_extract" -> "43e9b21585160c20",
    "e_pivot" -> "d2f253e22466e709",
    "e_session_windows" -> "17ae070a18423060",
    "e_sessionize" -> "3c5c005bfc8d9940",
    "e_topk_users" -> "84209fc32124f1fe",
    "e_type_agg" -> "d8fb84b17d935bf0",
    "f5_eventid_md5" -> "ae997edd10fab3ad",
    "iplom_templates" -> "60804a468b51d5af",
    "j1_line_join" -> "3b2b02647d7fbc43",
    "j_anti" -> "fc9b18b56477d63b",
    "j_asof" -> "339e9aa15e46bd55",
    "j_semi" -> "b6b797fd547a7b99",
    "lenma_sim_templates" -> "9f4967af0e9c4093",
    "lenma_templates" -> "9c90cf54a9f29bbd",
    "lfa_templates" -> "e6949bf58e7fe5f4",
    "lke_templates" -> "d937be1c4d235b16",
    "log_enrich_region" -> "a4e766eb09a2f2e0",
    "log_eval_scores" -> "837518abd96e6289",
    "log_matched_by" -> "9ced0bc521a58cd0",
    "log_pa_by_style" -> "8e3bff5814071df3",
    "log_params" -> "c8478d7bc21a8d59",
    "log_resume_metrics" -> "767cc9827a4ed2d3",
    "log_routed_rows" -> "962b7ba87dd4daf9",
    "log_spell_templates" -> "cb3375d1d9a0f089",
    "log_stream_templates" -> "4a5a5a1ac413ec56",
    "log_templates" -> "4a5a5a1ac413ec56",
    "log_templates_agg" -> "c2d4b28750996062",
    "logcluster_templates" -> "dedbd3970e6df9fa",
    "logmine_templates" -> "1da4f741381440f6",
    "logmine_xlen_templates" -> "3937b489679ccdfb",
    "logram_templates" -> "98bf8314e1c9bb84",
    "logsig_templates" -> "053c0e6f58512278",
    "mm_features" -> "29c1b2cf9d143d0f",
    "mm_frames" -> "7644c39ae7165ed1",
    "molfi_templates" -> "5dbee1154006f2ba",
    "q1_agg" -> "ce02a5af7ed37577",
    "q3_join" -> "dce85ce0bf5c606b",
    "s2_structure" -> "83579642daea6e40",
    "set_except" -> "0b9bb2dc31ed00b9",
    "shiso_templates" -> "ab30938728f81ebe",
    "slct_templates" -> "bd3056bbffb336bc",
    "t_fingerprint" -> "23a3dfa3683b2bc9",
    "t_langid" -> "dfa2a3fa0559a0fe",
    "t_pii_mask" -> "82e88411165e0ae9",
    "t_quality" -> "d0a607fc324fc349",
    "t_quality_gate" -> "a997844bcd6ab732",
    "t_repetition" -> "a4a190132122bfa8",
    "t_rolling_fp" -> "62bada14e7fafb99",
    "t_stopword_ratio" -> "9bd43645daf5efe0",
    "t_subword_count" -> "8a6bb858f45e9d5c",
    "t_token_count" -> "2b9abcd857e7d09c",
    "t_url_ops" -> "7612d5c645838a18",
    "td_budget_sample" -> "496057e6871617b1",
    "td_decontam" -> "7874b611965347bd",
    "td_domain_cap" -> "73d2829dff372c7d",
    "td_pipeline" -> "997544f7b524dc72",
    "td_pipeline_full" -> "d19964dfe5e5f58f",
    "td_stratified_sample" -> "cf5793641d83eb74",
    "ulp_templates" -> "fcde765377a4d0cf",
    "w_window_topk" -> "b43bc638dd0135df"
  )

  private def digest(sql: String): String =
    MessageDigest.getInstance("SHA-256").digest(sql.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString.take(16)

  test("every oracle SQL string equals its pinned digest") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet == Pins.keySet,
      s"unpinned: ${oracles.keySet -- Pins.keySet}; pinned but gone: ${Pins.keySet -- oracles.keySet}")
    val changed = Pins.collect { case (name, pin) if digest(oracles(name)) != pin => name }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted.mkString(", ")}")
  }
}
