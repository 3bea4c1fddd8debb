#!/usr/bin/env bash
# The sf0.1 heavy-query correctness tier: the bench-scale VALUE check
# over the expensive spine (compositors, graph peel loops, ANN index
# lifecycles, the text heavies). One list, scripted, so the tier is
# reproducible and additions are reviewed here rather than retyped.
#
# graph_influence_max joined in round 12: its oracle's per-sample
# component labels now come from unrolled MATERIALIZED min-label +
# pointer-jump rounds instead of the all-pairs reachability closure
# that OOMed DuckDB at this scale — no exclusions remain.
#
# Round 13: the corpus_prepare* compositor oracles got the same
# MATERIALIZED treatment (30-60 min each at sf0.1 -> seconds: `reps`
# embeds the recursive closure and every downstream stage re-inlined
# it), so the tier runs COMPLETE in one session window — no more
# "partial": true. dedup_lsh_index_persisted (persisted band-key
# index) and ev_session_stream_replay (incremental-sessionize loop,
# ~7 s at sf0.1 — the heaviest of the round-13 replay gates) joined
# the tier.
#
# The replayed graph operators whose driver replays run on
# ops.LocalGraph joined next: graph_scc, graph_matching,
# graph_label_propagation, graph_lpa_weighted, graph_katz,
# graph_toposort, graph_coloring and graph_louvain. Their DuckDB oracles
# take 0.2-1.3 s each at sf0.1 (graph_scc 32.5 s), with 2 oracle threads,
# so none is left out.
set -euo pipefail
cd "$(dirname "$0")/.."

TIER="corpus_prepare,corpus_prepare_classifier,corpus_prepare_mixed,corpus_prepare_semantic,\
decontaminate,dedup_cdc_chunks,dedup_lsh_index_persisted,dedup_lsh_jaccard,\
dedup_minhash_estimate,dedup_minhash_lsh,\
dq_approx_distinct,dq_audit,emb_pca,ev_session_stream_replay,\
graph_adamic_adar,graph_betweenness,graph_closeness,graph_coloring,\
graph_common_neighbors,graph_conductance,graph_distance_distribution,graph_eigenvector,\
graph_fastrp,graph_harmonic,graph_hits,graph_influence_max,graph_katz,graph_kcore,graph_ktruss,\
graph_label_propagation,graph_louvain,graph_louvain2,graph_lpa_weighted,graph_matching,\
graph_modularity,graph_node2vec_walks,graph_pagerank,graph_scc,graph_toposort,sim_hnsw_topk,\
sim_ivfpq_persisted,sim_ivfpq_recall,sim_ivfpq_residual,sim_ivfpq_topk,sim_nsw_recall,\
sim_nsw_topk,sim_pq_topk,stats_bootstrap,stats_permutation,text_textrank,\
text_unigram_encode,text_winnow,tfidf_terms_salted"

ORACLE_THREADS="${ORACLE_THREADS:-16}" exec tools/gate.sh /root/testdata/sf0.1 \
  "${1:-tmp/verify_sf01}" "${2:-CORRECTNESS_SELF_SF01.json}" "$TIER"
