"""Distributed-boundary smoke: run real queries on ``local-cluster``.

The reference's whole point is plans crossing process boundaries —
client -> scheduler -> executor (examples/ballista_client.rs:26-41,
examples/ballista_scheduler.rs:27-56). Everything else in this suite
runs ``local[32]`` (one JVM, no serialization boundary). This test
starts a REAL multi-process cluster — ``local-cluster[2,2,2048]``
spawns two separate executor JVMs under a standalone-style scheduler —
and drives three representative paths across it:

- the flagship ``entry()`` (scan -> sample -> filter -> agg),
- an exact-dedup shuffle (groupBy on md5),
- a mapInPandas query whose Python workers must import the engine
  package shipped via addPyFile (multimodal_decode_real: the pickled
  closure references operators/imagecodec.py, which only reaches the
  executors through io.ensure_engine_confs' package zip),
- the round-6 paths: the Misra-Gries mapInPandas kernel
  (heavy_hitter_tokens — bounded per-partition summaries built in
  executor Python workers, candidate verification shuffle) and the
  distributed-rank mixture resampler (domain_mix_resample —
  repartitionByRange + localCheckpoint + per-partition offsets must
  agree across real executor JVMs).
- the round-11 persisted perceptual-hash store
  (image_signature_store_incremental: decode + dHash in executor
  Python workers, banded distinct-hash joins and the compaction
  boundary crossing real executor JVMs).

It runs in a SUBPROCESS so the session fixture's local[32] JVM and the
cluster JVMs never fight over one driver process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from ballista_extensions_spark.queries.registry import REPO_ROOT

_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from ballista_extensions_spark.session import get_session
import __spark_entry__ as e

spark = get_session("distributed-smoke")
out = {"master": spark.sparkContext.master}
qs = e.queries()
sf = sys.argv[2]
out["entry_rows"] = len(e.entry(spark).collect())
out["dedup_rows"] = len(qs["dedup_exact"](spark, sf).collect())
decoded = qs["multimodal_decode_real"](spark, sf).collect()
out["decode_rows"] = len(decoded)
out["decode_errors"] = sum(1 for r in decoded if r.decode_error is not None)
hh = qs["heavy_hitter_tokens"](spark, sf).collect()
out["hh_rows"] = len(hh)
out["hh_sorted"] = all(
    hh[i].cnt >= hh[i + 1].cnt for i in range(len(hh) - 1)
)
mix = qs["domain_mix_resample"](spark, sf).collect()
out["mix_rows"] = len(mix)
ph = qs["image_signature_store_incremental"](spark, sf).collect()
out["phash_rows"] = len(ph)
out["phash_phases_valid"] = all(r.phase in (1, 2) for r in ph)
# brute-force expected pair set from the SAME cluster's hashes: the
# distributed result must equal it exactly (not just be non-crashing)
from ballista_extensions_spark.io import load_table
from ballista_extensions_spark.operators.imagedup import image_dhash
from ballista_extensions_spark.operators.multimodal import docs_as_png_media
hrows = image_dhash(
    docs_as_png_media(load_table(spark, sf, "documents"))
).collect()
hs = {r.id: r.dhash for r in hrows if r.dhash is not None}
def ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
want = set()
for a, ha in hs.items():
    for b, hb in hs.items():
        if ham(ha, hb) <= 6:
            if a % 2 == 0 and b % 4 == 1:
                want.add((a, b, ham(ha, hb), 1))
            if (a % 2 == 0 or a % 4 == 1) and b % 4 == 3:
                want.add((a, b, ham(ha, hb), 2))
got_pairs = {(r.stored_id, r.new_id, r.hamming, r.phase) for r in ph}
out["phash_exact"] = got_pairs == want
out["phash_expected"] = len(want)
spark.stop()
print("RESULT:" + json.dumps(out))
"""


def test_queries_survive_scheduler_boundary(sf_dir):
    env = dict(os.environ)
    env["SPARK_GRAFT_MASTER"] = "local-cluster[2,2,2048]"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO_ROOT, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd="/tmp",  # NOT the repo: proves the addPyFile zip, not cwd,
        # delivers the package to executor python workers
    )
    lines = [
        line for line in proc.stdout.splitlines() if line.startswith("RESULT:")
    ]
    assert proc.returncode == 0 and lines, (
        f"subprocess failed rc={proc.returncode}\n"
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )
    got = json.loads(lines[0][len("RESULT:") :])
    assert got["master"] == "local-cluster[2,2,2048]"
    assert got["entry_rows"] > 0
    assert got["dedup_rows"] > 0
    assert got["decode_rows"] > 0
    assert got["decode_errors"] == 0
    assert got["hh_rows"] == 30 and got["hh_sorted"]
    assert got["mix_rows"] > 0
    assert got["phash_phases_valid"]
    assert got["phash_exact"], (
        f"distributed phash store pairs != brute force "
        f"(got {got['phash_rows']}, want {got['phash_expected']})"
    )
