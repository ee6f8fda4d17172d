#!/bin/bash
# Sequential regeneration of the scale artifacts for the current query
# set. sbt -batch prefixes the forked program's stdout with "[info] ",
# so JSON lines are extracted by stripping that prefix — a bare
# grep '^{' captures nothing. Every graft.Harness mode prints its JSON
# lines to stdout only; this script owns the artifact files.
set -u
cd "$(dirname "$0")/.."
# sweeps and the BPE rehearsal run on every core unless told otherwise;
# spill derives its slot count from its memory cap, bench keeps its 4
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
log() { echo "[artifacts $(date +%H:%M:%S)] $*"; }
extract_json() { sed -n 's/^\[info\] \({.*}\)$/\1/p'; }

if [ "${SKIP_SPILL:-0}" != "1" ]; then
  log "spill rehearsal (512 MB cap, full suite)"
  sbt -batch "runMain graft.Harness spill" 2>&1 | tee /tmp/spill_raw.txt | extract_json > /tmp/SWEEP_SPILL.json.tmp
  [ -s /tmp/SWEEP_SPILL.json.tmp ] && mv /tmp/SWEEP_SPILL.json.tmp SWEEP_SPILL.json
  tail -1 SWEEP_SPILL.json | cut -c1-200
fi

log "uniform 10x sweep"
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Harness sweep" 2>&1 | tee /tmp/sweep_raw.txt | extract_json > /tmp/SWEEP.json.tmp
[ -s /tmp/SWEEP.json.tmp ] && mv /tmp/SWEEP.json.tmp SWEEP.json
tail -1 SWEEP.json

log "skew 10x sweep"
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Harness sweep --skew" 2>&1 | tee /tmp/sweep_skew_raw.txt | extract_json > /tmp/SWEEP_SKEW.json.tmp
[ -s /tmp/SWEEP_SKEW.json.tmp ] && mv /tmp/SWEEP_SKEW.json.tmp SWEEP_SKEW.json
tail -1 SWEEP_SKEW.json

log "3-point curvature"
# the recorded top growers of SWEEP.json, plus the heavy compositions
# (crawl-to-train, gz codec, dangling-mass walk) and the top-absolute
# 10x queries
CURVE_TARGETS=e_semdedup,e_lang_id,e_lang_confusion,e_heavy_hitters,\
e_multimodal_png,e_pii_redact,e_fuzzy_join,e_repetition,e_kmv_setops,\
e_quality_score,e_dedup_spans,e_collapse_repeats,e_pipeline_full,\
e_warc_parse_gz,e_pagerank_dangling,e_link_extract,e_html_extract,\
e_stream_quality_model
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Harness sweep 1,3,10 $CURVE_TARGETS" 2>&1 | tee /tmp/curve_raw.txt | extract_json > /tmp/SWEEP_CURVE.json.tmp
[ -s /tmp/SWEEP_CURVE.json.tmp ] && mv /tmp/SWEEP_CURVE.json.tmp SWEEP_CURVE.json
tail -1 SWEEP_CURVE.json

log "BPE depth at 4096 merges"
SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Harness bpe 4096 8" 2>&1 | tee /tmp/bpe_raw.txt | extract_json > /tmp/SWEEP_BPE.json.tmp
[ -s /tmp/SWEEP_BPE.json.tmp ] && mv /tmp/SWEEP_BPE.json.tmp SWEEP_BPE.json
tail -1 SWEEP_BPE.json

log "bench pass 1 (quiet)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 | tee /tmp/bench1_raw.txt | extract_json > /tmp/bench1.json
grep -o '"calibration":{[^}]*}' /tmp/bench1.json | head -1
grep -o '"value":[0-9.]*' /tmp/bench1.json | head -1

log "bench pass 2 (quiet)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" 2>&1 | tee /tmp/bench2_raw.txt | extract_json > /tmp/bench2.json
grep -o '"calibration":{[^}]*}' /tmp/bench2.json | head -1
grep -o '"value":[0-9.]*' /tmp/bench2.json | head -1

log "done"
