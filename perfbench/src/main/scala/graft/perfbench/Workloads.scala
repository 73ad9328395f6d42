package graft.perfbench

/** The benchmark's workloads: fixed lists of registered queries. Each
  * stresses different layers; perfbench/README.md gives the reasons. */
object Workloads {
  /** The paper's Unpack/Assign/Reduce parity folds, on a fixture split over
    * several files. Executor, GC and shuffle do most of the work; graftshard
    * does none. */
  val folds: Seq[String] = Seq(
    "q1_flagship", "q2_weighted_mean", "q3_weighted_mean_udaf",
    "q4_fold_all_numeric", "q5_assign_keys", "q6_split_on_data",
    "q7_good_rows", "q8_filter_good_field", "q9_reduce_and_add_key",
    "q10_make_recs_with_key", "q11_key_recode", "q12_aggregate_fold",
    "q13_combine_recodes", "q14_merge_data_folds", "q15_unpack_flatmap",
    "q16_null_skip_sum", "q17_null_poison_sum", "q18_fold_all")

  /** PageRank, a driver-orchestrated loop that builds in rounds and
    * persists branches through CacheRegistry, then graftshard writes
    * (overwrite, upsert, compaction, rollback, CAS commit) and reads (time
    * travel, pushdown, bloom lookup, bucketed join) on the same connector.
    * Per-query fixed cost dominates: construction, planning and job launch
    * rather than data. */
  val loopsLake: Seq[String] = Seq(
    "x34_pagerank",
    "x40_shard_roundtrip", "x44_shard_bucketed_join", "x45_shard_time_travel",
    "x50_shard_compaction", "x52_shard_sum_pushdown", "x62_shard_bloom_lookup",
    "x63_shard_upsert", "x64_shard_rollback", "x75_shard_cas_commit")

  val byName: Map[String, Seq[String]] = Map("folds" -> folds, "loops_lake" -> loopsLake)
}
