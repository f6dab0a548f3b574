package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Golden pin of the query surface: the exact set of query names and
  * the SHA-256 of every oracle SQL string (UTF-8 bytes). A refactor of
  * the query registry must leave both byte-identical; a deliberate
  * change to a query name or an oracle updates its pin here, in the
  * same commit, so the change shows in the diff.
  */
class QueryRegistrySpec extends AnyFunSuite {
  private val pinnedNames: Seq[String] = Seq(
    "d_backup_metrics", "d_backup_sink", "d_backup_stats", "d_bloom_dedup",
    "d_chunk_stats", "d_clone_groups", "d_clone_pairs", "d_commit_deltas",
    "d_curation", "d_decontam", "d_doc_clusters", "d_dup_span_pairs",
    "d_dup_span_stats", "d_dup_spans", "d_dup_trim", "d_exact_dedup",
    "d_file_restore_md5", "d_fingerprint", "d_fixed_chunks",
    "d_fork_families", "d_fork_prune", "d_fsl_roundtrip", "d_gram_quality",
    "d_index_presets", "d_lang_balance", "d_lang_id", "d_lcs_pairs",
    "d_lcs_trunc", "d_merkle_dirs", "d_merkle_prune", "d_minhash_cluster",
    "d_mix_alloc", "d_neardup_prune", "d_ngram_df_stats",
    "d_ngram_jaccard_pairs", "d_ngram_shingles", "d_para_dedup",
    "d_pii_scrub", "d_preset_cand_md5", "d_preset_clusters", "d_presets_md5",
    "d_quality", "d_quota_sample", "d_repo_forks", "d_restore_md5",
    "d_restore_verify", "d_rollup_stats", "d_sa_gram_stats",
    "d_segment_features", "d_segment_md5", "d_self_rep", "d_shard_stats",
    "d_simhash_md5", "d_simhash_pairs", "d_suffix_rank", "d_tfidf_topterms",
    "d_token_count", "d_token_regex", "d_trace_cap", "d_trace_cbr",
    "d_trace_cfl", "d_trace_pipeline", "d_trace_roundtrip", "d_vocab_oov",
    "d_winnow", "d_winnow_pairs", "e_ann_topk", "e_cosine_dedup",
    "e_ivf_kmeans", "e_ivf_probe", "e_ivf_topk", "e_lsh_buckets",
    "e_lsh_dedup", "e_norm_stats", "e_pq_adc", "e_pq_topk",
    "e_quantize_stats", "e_semdedup", "g_chain_expire", "g_chain_recipes",
    "g_compact_exec", "g_compaction_plan", "g_dead_chunks", "m_frame_sample",
    "m_media_stats", "m_resize", "q1_agg", "q_anti_join", "q_broadcast_join",
    "q_champion_plain", "q_champion_trim", "q_cum_packing", "q_distinct_agg",
    "q_first_writer", "q_histogram", "q_lru_stack", "q_min_sample",
    "q_next_access", "q_optmin_sample", "q_quantile", "q_random_sample",
    "q_segment_bounds", "q_semi_join", "q_session_runs", "q_topk_agg",
    "q_topk_per_group", "q_uniform_sample", "r_access_records",
    "r_cap_rewrite", "r_cbr_rewrite", "r_cfl_runs", "r_har_sparse",
    "r_restore_asm", "r_restore_lru", "r_restore_opt", "r_util_histogram",
    "s_backup_chain", "s_windowed_throughput"
  )

  private val pinnedOracleSha256: Map[String, String] = Map(
    "d_backup_metrics" ->
      "536797b00a3d68a853ce1b48000ea29d9e67d0c38ae9ac47a493432e5b70571c",
    "d_backup_sink" ->
      "964701af6284b9d2728c538a28b624aa3d8a84e5bca17b2b51cbbb329fdd578f",
    "d_backup_stats" ->
      "f9c2b1f5f85dbde557d29e735ccf312715bb42f816e7635066aae0583a97234c",
    "d_bloom_dedup" ->
      "b2af350c24a5f5adb126cab86460ef1dd6b5a37fcb71d99fbac63e2e200a1200",
    "d_chunk_stats" ->
      "56cd249ece16b8e9e725c84116d13bb2f8507edfed2896dced8160ad26ee55c0",
    "d_clone_groups" ->
      "49978657c9dd19add6212807f7945c7e75af5832d629bcc74566da9aead82c36",
    "d_clone_pairs" ->
      "db6ce7dd89141299f741b00624ea22fc70d61d72544037cc88d7349c6f763a82",
    "d_commit_deltas" ->
      "b7634e760fd0110ddd89d0fd50e9883ec81c03cbcfb8361f378a3ec32aa0e5b0",
    "d_curation" ->
      "1a35ca72526f6024400e9012719c59906dc70be224b2ebe7a8064c96dc198c0c",
    "d_decontam" ->
      "465cc3adc83f8eb04caac11b40602583e9ee2a9258fd983e81eba62e2c5d0516",
    "d_dup_span_pairs" ->
      "6238b66e811ab0a032192ca0348c7238dc736ddfa51baec0d646ca0029c45775",
    "d_dup_span_stats" ->
      "c657ae89e447505dc7c66a9dbf7e49e435d3e18c7cc4a89eb12aaa85dc33fa49",
    "d_dup_spans" ->
      "fb35bf48288fafca8b52cf7fa4a75638c190e44abcd8033417813c0d1a1a059a",
    "d_dup_trim" ->
      "1a0a9b7be64bc3adb03bc6b014066394a9871f2ca2907df9beb884f2b14c2fd7",
    "d_exact_dedup" ->
      "1a073298e6fe5507005ec18ac94d513a4d297bca200c0d51857c0ff3d734bfb4",
    "d_file_restore_md5" ->
      "3c934f123fbc4b99aba2ee807497f583eb93a86bb11e3e30121236e75298cb87",
    "d_fixed_chunks" ->
      "6761db5eae040ded578d37ef591c85848a225105ee9f4fe59a41166b58c76a64",
    "d_fork_families" ->
      "37965a2cdc4cdaa10ab1c2c3f2a1a48d4c81f16faf0d830058fbda9f2ae803be",
    "d_fork_prune" ->
      "cdb06d43a068191af07579945aa78d246f15bfce1335487275c3e9db68547600",
    "d_gram_quality" ->
      "2964c56de6ae9208e506c85446b7fe62dde640d879b25b14e49953f0a2829fd4",
    "d_lang_balance" ->
      "bc27e9b5e37a441f728c65c9607925ad05d2eb239513da18fae144e70e74a1b7",
    "d_lang_id" ->
      "728281fdf7b638b7866ff973cdc90cd24a1330f435ea13d0394d4965d31494e5",
    "d_lcs_trunc" ->
      "b95d116d0d27c6d384891974937d3c62957749cfe9788d6b2615b36552b1497d",
    "d_merkle_dirs" ->
      "d7e2badd3962d6cdab3573d89d9a928dfce5adc49e66ecf6609a32a717d856a4",
    "d_merkle_prune" ->
      "8d54da39d7a6e0f9974fba4f7ffdc1c5bf969762c23421fe9ed9223983206ea1",
    "d_minhash_cluster" ->
      "bbd69f74cc2994d3424faceaf006d3672a5fda2dd674540ffe5f1f4e0485e138",
    "d_mix_alloc" ->
      "97514f52450c00957f1f2735e6aa2b244021a4f5c888bf736707a762dec1b6f5",
    "d_neardup_prune" ->
      "5441cd18df6f96cad77568f8d53e9cc2ce1bd2fe1abd54a023ca48129934f277",
    "d_ngram_df_stats" ->
      "758f28cb96133457ddbbc4033523f0aeb4486e03aa59c190a4e32ccf8e60fc71",
    "d_ngram_jaccard_pairs" ->
      "b60535f248ec8126b26d2eb9189d28b5dfce42c90346b051a616953a393a2418",
    "d_ngram_shingles" ->
      "32ca76398c4bfbc23e73bb31939ae1af4d01f6699dd11959df5149d929fd64a7",
    "d_para_dedup" ->
      "a5d884bdc2dfa500d5e198970964b4b5fd07a3377ee60defdfc9975b65fa5793",
    "d_pii_scrub" ->
      "580909523c101cab13afe018d92bbb36a9fe44edd151be79a78f06146951adb9",
    "d_preset_cand_md5" ->
      "c0688c24c842289cba08f464aa277308906157ea2d9896120f855a688c8c868f",
    "d_presets_md5" ->
      "a2dfdb433a8be17bd7bfd2a90e118c78c182d6660a1c271c299d3c36cec36359",
    "d_quality" ->
      "66bf85a8a2965f6ae33df1d724965fb5afe565ae41a7f3ae79a56a87800c4348",
    "d_quota_sample" ->
      "9d9cdf30c57a4f2dc59396663b5b331998195024cdc09a6d053a5f55384f3e6f",
    "d_repo_forks" ->
      "ba99468a05935f4a1b0a5aab63fe8ca97e565771d032b7a1782830cd8689fb77",
    "d_restore_md5" ->
      "2077099d45eca4d20ca7aaa17666c0279bffa7099c8f6f41121e4490b05e47b2",
    "d_rollup_stats" ->
      "972bc417d21190e56f9203b2ed613d8743e23c444039a12afd70c8d1d424fd31",
    "d_sa_gram_stats" ->
      "6a460b064a5bee3f22b03de9b8ce70d0d6f6b8d8f4ac2917ab13010985fb9170",
    "d_segment_md5" ->
      "6c50afafbbcfc9c32c6e964dd8debd4f7d1c087e61446077da7d529be9ddb8ab",
    "d_self_rep" ->
      "573dcda257f28a0aa6db2fafff4122ce8802cbec67f16f1a4020c3e8d76fa5f9",
    "d_shard_stats" ->
      "b7184ce8e5d6de1abf1752d3ae56241c02fc3133cd85395804d974658859bbe6",
    "d_simhash_md5" ->
      "62eaebbccb8281c486a942df3ab76a99b148a9aee69e2e2d916aaac521633639",
    "d_suffix_rank" ->
      "b0f40c759b5a4ca03b01f18a019eeba46a8ce40ea47e08692d9de4322c7a6c2d",
    "d_tfidf_topterms" ->
      "8dce30c7eef582c3e9f316ed983931f12a951a5875ac5664c6466835ab2df863",
    "d_token_count" ->
      "6fa57cb8bc5e97a002af4cc5a5584952f2b5d7ba02343fdcd268426896917864",
    "d_token_regex" ->
      "85784befa66b2ee117bd10264da5bde4f533e7a221195dfcb342a2156cf31012",
    "d_trace_cap" ->
      "6936e5aa0cf12b0bec473d18da22a064ced23825648b4a31bbfff77c90e1cdbb",
    "d_trace_cbr" ->
      "c7e32ca0aefaffb489d8a676bc19eefc89791d4ad50c418ea7cc57ed32cd2663",
    "d_trace_cfl" ->
      "7363350999e2aee612d1fc3470ff7d027eb692fd92dd035910923b72fc22a042",
    "d_trace_pipeline" ->
      "062729cc77c03aab142b826176ca67590487337f5236a870146aad6f8f35501b",
    "d_vocab_oov" ->
      "5eff64c25ec0241b13a66d1150ac5fbe925d1cf576e7736813bf9e397139ebd1",
    "d_winnow" ->
      "6ff751b91f7f77f6953cb4ce11a143582366ac5992dfba4d46ea7a9fe448597a",
    "d_winnow_pairs" ->
      "97772a0c733164f969a9faceabcb222afacab1c3af0e25a4cbd7d4f3109347e4",
    "e_ann_topk" ->
      "04f53b61e071c4277e090105aa03313de8758bc71c6e7264424d1f74d8f8fb3f",
    "e_cosine_dedup" ->
      "c73da7ccf25a29bc483b28014a0c3cade2f08adf1d2452a3e5995652bf8ff539",
    "e_ivf_kmeans" ->
      "768420d5c3441191b512d29b2d4c43634efebed0a5699a10647893964262f7f2",
    "e_ivf_probe" ->
      "c876d5b215f2de45bcc98695e68d69dc7ebcf5b7308d1d2e519d5c0eb28464cd",
    "e_ivf_topk" ->
      "04f53b61e071c4277e090105aa03313de8758bc71c6e7264424d1f74d8f8fb3f",
    "e_lsh_buckets" ->
      "5bc9412db4cd0c22b88e341e7547bb4ced5747c3ef69ad93af180ef87e64e57a",
    "e_lsh_dedup" ->
      "0cd6bc4c46951ebb9a6beaf55e841300e1c082cc03472c580db75159da3e255b",
    "e_norm_stats" ->
      "25a7ab89dfc056a9c14acf7240099bd721abb829667dfbd4cff967f04bbcebc1",
    "e_pq_adc" ->
      "a09c391352ea8bdf063a3d8110c7b093ca5ca9a348e0b5b9f29b7d25363992c4",
    "e_quantize_stats" ->
      "352d9efe59f36a322a9effcf1a0987a73673ed75982de01da622d817c05db689",
    "e_semdedup" ->
      "0b1931c9fb4ce9803be7835d9066243bf1bec442c778781d638dd3ec27370664",
    "g_chain_expire" ->
      "ffbf8e579049ba2db9c0522c54451271ce54389f17fc819102964ab8f1f307a7",
    "g_chain_recipes" ->
      "8397385adb9cd99abaecd8dbc5e5620cb449d69c8b82f828949cc9ca4bdd0f0f",
    "g_compact_exec" ->
      "1874ba06ac4e11576994aa51e6ed8bd31d7c899784c2d15d4a1dcd6bd4892f2e",
    "g_compaction_plan" ->
      "637d9cf8756d883bf5ef6368fc988b348779851b3b629c961d0c3143989ced2d",
    "g_dead_chunks" ->
      "cf9ea7a348b61197e754239af8ad16010878f037e2454f285fcf8761a810de69",
    "m_frame_sample" ->
      "2140272843f4bbf8ebdb73cdbaaf06212f682be2306a7df13f91361548ea1522",
    "m_media_stats" ->
      "8bbef11fab3d7750dedf2db0ac8d25775dabdccdc612ab040a3b67514d54bf55",
    "m_resize" ->
      "214312117e1b3baedfffa8f578df74e8e2e35d42b89d4a43bf87252cc5e84f36",
    "q1_agg" ->
      "8f1ed08b730ee0cd51ff51b6aa9f99cef1f9735049fe11e3084fe27b9377ace8",
    "q_anti_join" ->
      "08e637f5f37635cf79af7ee509e71a8ae7469ec4881c923abb8a6849a6c03bb3",
    "q_broadcast_join" ->
      "0cd7c9cf3f09602e061f2afe01fc693809f32d1713ba1bdfc785bbf04829b1ce",
    "q_champion_plain" ->
      "c8cebea0a3fa4b7596462b0a81d6557c75f289a7f4db76fe1f98e308950d5098",
    "q_champion_trim" ->
      "ee12cbeea05af0f74abfa3d758949cedad99d456397ebd5b534c4e05ddd2c0ef",
    "q_cum_packing" ->
      "09b6ea0ae57885fde4116d755f0034fe797617a4d3eb8810122ef6e6b0257544",
    "q_distinct_agg" ->
      "98ddca882658ac8f1aac1bcfa4b9495b7e4d56fdb77091f1b95de4a87dc08271",
    "q_first_writer" ->
      "7c614f91b0e296471abbc2414c74d60c1c71e704be91a7f2c809d7f791876e49",
    "q_histogram" ->
      "e078bdc281d3d6909b5d74e7d064e3272200c27df39e484ab2de111859970a3e",
    "q_lru_stack" ->
      "7b369b126a649c52e931cda1f4db2d8fb70fa7dbb4fb3ff5dc0be271c0114f57",
    "q_min_sample" ->
      "c474c93f333b1603ed5fd9d355d52672cdb1fa22d4a2c90728e57beeb676e19e",
    "q_next_access" ->
      "e9801fdacc77d84fe4b2c28dd964f9147a28c5b65fa3dab1b45bcb2f8ae9b0ac",
    "q_optmin_sample" ->
      "0756a807b74f88d4f92bea90e6402a4bca9850d9e85c29482bc9d34925a0f735",
    "q_quantile" ->
      "0ace08c0f6c79f8fcad4ddf3aee434d087a15647e3c69cec67d091fd3da0fbb8",
    "q_random_sample" ->
      "d132fba8f348c062774cd81169971be78850ec8a3ba32f9d70ad62ec43650037",
    "q_segment_bounds" ->
      "8e332bea8f077beb87d13367807f83dbee0d1ab03b91c8f6ddd31530e02cdae8",
    "q_semi_join" ->
      "cf3ed2181d56c9525d3e19f319c5fc35c6cbf4497099891847c3df8eaa536f8f",
    "q_session_runs" ->
      "a7bf6321f958c55a1f9b14db7433d894023ee5165835c7e346dce819b5820378",
    "q_topk_agg" ->
      "38537677aa8003990bb6adbd0ba5039df6024585ae6b511de81c28fca73b907a",
    "q_topk_per_group" ->
      "e37af2494620a2c0214ead75b527f4fdf6defe600d6d0631fd0723417bb0792a",
    "q_uniform_sample" ->
      "53ef1f21fb3fcb174afb64a74d6dba937f4e23a09f7d049953b2b3abce893bb2",
    "r_access_records" ->
      "3000c2598bdc1c451386ba7a7895af93a0fe92e4a83d8be156b3aa3dd3bed4b9",
    "r_cap_rewrite" ->
      "bc88c59cf3092413f16f356a3f197e1961844f1e454ad4c28ee0461e970d5603",
    "r_cbr_rewrite" ->
      "aefff68707657ff74ea330c738535608c3d77f59b4e321d77e8e174fc26a0f84",
    "r_cfl_runs" ->
      "251ae37ae75f601b31ccd7293b7f3b60f43a8b5185254f4d35215c257805ca7f",
    "r_har_sparse" ->
      "deb371a6323bf36e9ea710ac4e83774cdf9a4d16b6f01c137f4d71a8536e1623",
    "r_restore_asm" ->
      "cbaa28facaf50266fae59f4507d4b69ae899c016ce5b4abda1978026d3892e03",
    "r_restore_lru" ->
      "1eee7a00d07b2daac7637053615aae46a6d84724c2d4de790f4b0dd1f0c1a4d8",
    "r_restore_opt" ->
      "2b0387b47dcce7acae2d7f1d2e31233aeaf6e5b7a9f4cba759e6455801b3caa1",
    "r_util_histogram" ->
      "ede0eca78d539d5963a6c9b26da7985b64f56a60a08efcc7ac95d5ddbd525147",
    "s_backup_chain" ->
      "c9881f838b4acd7845badb7ab8dab52e9b4c83c09035c74a110a0f8561e4935a",
    "s_windowed_throughput" ->
      "cfe040260b06180d7056384b24fa28e00ed8242aae24e5731db87a1a2851148b"
  )

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("the registry serves exactly the 118 pinned query names") {
    assert(pinnedNames.size == 118 && pinnedNames.distinct == pinnedNames)
    val served = Queries.all.keySet
    assert(served.diff(pinnedNames.toSet).isEmpty, "unpinned queries")
    assert(pinnedNames.toSet.diff(served).isEmpty, "dropped queries")
  }

  test("every one of the 107 oracle strings is byte-identical to its pin") {
    assert(pinnedOracleSha256.size == 107)
    assert(Queries.oracle.keySet == pinnedOracleSha256.keySet)
    val changed = pinnedOracleSha256.collect {
      case (name, pin) if sha256(Queries.oracle(name)) != pin => name
    }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted}")
  }
}
