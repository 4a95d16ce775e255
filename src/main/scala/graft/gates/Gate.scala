package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: a Spark query over an sf directory, the DuckDB
  * oracle SQL whose result it must hash-match, and optionally that
  * oracle's scale twin.
  *
  * Conventions that keep the oracle hash-compare honest:
  *  - every query ends in a deterministic total ORDER BY;
  *  - aggregates over non-integer doubles are `round`ed (2dp money, 4dp
  *    averages, 6dp ratios) so partial-aggregation order can't leak into
  *    the hash;
  *  - column names are identical on both sides.
  *
  * Scale twins. 22 oracles are brute-force / recursive-closure SQL whose
  * DuckDB cost is quadratic in corpus size: fine at the sf0.01 gate,
  * infeasible at ScaleData step-ups (the round-9 sf1 sweep timed every
  * one of them out while the ENGINE side completed). Each twin keeps the
  * primary's projections, filters, thresholds, and aggregations VERBATIM,
  * but reads its pair graph / closure / PQ encoding from `tw_*` temp
  * tables that tools/scale_twins.py materializes with vectorized EXACT
  * math (full all-pairs BLAS — no banding, no sampling, no pruning, so
  * the twin stays exactly as independent of the engine's LSH geometry as
  * the primary). Integer-exact paths (Jaccard counts, Hamming) are
  * bit-identical by construction; float comparisons within 1e-9 of a
  * threshold/tie are re-decided by DuckDB itself evaluating the primary's
  * own expression.
  *
  * Contract: tools/check_oracle.py --scale prefers these twins and calls
  * scale_twins.prepare(con, name) first; --twin-check runs twin AND
  * primary at the gate SFs and compares exactly (the equivalence
  * evidence). The driver's own gate keeps running the primaries.
  *
  * Helper tables (built per connection, shared across queries):
  *   - tw_char5_pairs / tw_char3_pairs / tw_word3_pairs (u, v, j, su, sv):
  *     u < v, exact gram-set Jaccard j >= 0.8, su/sv the distinct-gram
  *     counts (so primaries' float length filters apply unchanged).
  *     Self-pairs are NOT stored: where a primary's join semantics include
  *     them (d79/q50's eval side), the twin adds them explicitly as the
  *     exact j = 1.0 they carry.
  *   - tw_word3_comp / tw_cos097_comp / tw_e08_comp / tw_phash_comp /
  *     tw_x14_comp (id, mn): the recursive-closure contract — for each
  *     node of a >=2 component C, mn = min(C \ {id}).
  *   - tw_cos097_pairs (u, v): cosine >= 0.97 edges over embeddings.
  *   - tw_e08_asg / tw_e13_asg (vec_id, cell): nearest centroid by
  *     (cosine DESC, cid ASC).
  *   - tw_pq_recon (vec_id, rc): per-subspace argmin-L2 centroid slices
  *     concatenated — values copied verbatim, so ADC stays in SQL.
  *   - tw_d68_s1 / tw_d68_s2 / tw_d68_comp / tw_d68_comp3: the d68
  *     cascade's per-stage survivor sets and closures. */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    scaleTwin: Option[String] = None)
