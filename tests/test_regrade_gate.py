"""The grading order (queries/registry.py:grading_order): the driver
grades a bounded prefix of ``get_queries()``, ordered from committed
CORRECTNESS artifacts and recorded code fingerprints, so a code change
to a query re-queues it with no hand edit."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from ballista_extensions_spark.queries import registry
from tools.record_grades import record

PKG = "ballista_extensions_spark"
HASH = {"rows_match": True, "schema_match": True, "hash_match": True, "spark_rows": 3, "err": None}
ROWS = {"rows_match": None, "schema_match": None, "hash_match": None, "spark_rows": 3,
        "err": "no_oracle"}
ERR = {**ROWS, "spark_rows": None, "err": "TypeError: unhashable type: 'numpy.ndarray'"}


def test_grading_order_from_artifacts(tmp_path):
    """r10 and r11 recorded, r12 graded but not recorded yet. Names never
    green lead in registration order; then unattested greens (stale or
    no record), then attested ones; each oldest first, rows-only after
    hash-verified names of the same round."""
    rounds = {
        10: {"q1_pricing_summary": HASH, "q3_shipping_priority": HASH, "sample_lineitem": ROWS,
             "q5_local_supplier_volume": HASH, "customer_rfm_segments": HASH},  # unregistered
        11: {"q6_forecast_revenue": HASH, "packed_segment_ids": ERR,
             "q8_market_share": {**HASH, "hash_match": False},
             "q9_product_profit": {**HASH, "err": "timeout"},
             "sample_by_segment": {**ROWS, "spark_rows": None}},
        12: {"q7_nation_volume": HASH, "q3_shipping_priority": ERR},
    }
    os.makedirs(tmp_path / "tools")
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    record(str(tmp_path / "CORRECTNESS_r10.json"), root=str(tmp_path))
    recorded = record(str(tmp_path / "CORRECTNESS_r11.json"), root=str(tmp_path))
    assert set(recorded) == {"q1_pricing_summary", "q3_shipping_priority", "sample_lineitem",
                             "q5_local_supplier_volume", "q6_forecast_revenue"}
    (tmp_path / registry.RECORDED).write_text(
        json.dumps({**recorded, "q5_local_supplier_volume": "stale"}))
    graded = ["q5_local_supplier_volume", "q7_nation_volume", "q1_pricing_summary",
              "q3_shipping_priority", "sample_lineitem", "q6_forecast_revenue"]
    assert registry.grading_order(str(tmp_path)) == (
        [n for n in registry.QUERIES if n not in graded] + graded)
    # recording a round drops the records of the names it grades red
    recorded = record(str(tmp_path / "CORRECTNESS_r12.json"), root=str(tmp_path))
    assert "q7_nation_volume" in recorded and "q3_shipping_priority" not in recorded


def test_grading_order_without_artifacts(tmp_path):
    assert registry.grading_order(str(tmp_path)) == list(registry.QUERIES)
    assert list(registry.get_queries()) == registry.grading_order()


def _fingerprints(root, cwd, seed="0") -> dict[str, str]:
    script = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
              "from ballista_extensions_spark.queries import registry as r; "
              "print(json.dumps({n: r.code_fingerprint(n) for n in r.QUERIES}))")
    out = subprocess.run([sys.executable, "-c", script, str(root)], cwd=cwd, check=True,
                         env={**os.environ, "PYTHONHASHSEED": seed},
                         capture_output=True, text=True, timeout=600)
    return json.loads(out.stdout.splitlines()[-1])


def _copy(dest):
    shutil.copytree(os.path.join(registry.REPO_ROOT, PKG), dest / PKG,
                    ignore=shutil.ignore_patterns("__pycache__"))
    return dest


@pytest.fixture(scope="module")
def base(tmp_path_factory):
    """Fingerprints of an unedited copy: the same in processes that
    differ in hash seed and cwd, and in this one."""
    root = _copy(tmp_path_factory.mktemp("pristine"))
    first = _fingerprints(root, cwd=root, seed="1")
    assert _fingerprints(root, cwd=root.parent, seed="2") == first
    assert first == {n: registry.code_fingerprint(n) for n in registry.QUERIES}
    return first


def _requeued(base, tmp_path, rel: str, old: str, new: str) -> set[str]:
    """Names whose fingerprint changes when a copy of the package has
    ``old`` replaced by ``new`` in file ``rel``."""
    path = _copy(tmp_path) / PKG / rel
    src = path.read_text()
    assert src.count(old) == 1, old
    path.write_text(src.replace(old, new))
    edited = _fingerprints(tmp_path, cwd=tmp_path)
    return {n for n in base if edited[n] != base[n]}


def test_operator_edit_requeues_dependents(base, tmp_path):
    """streaming_sigstore_replay reaches _band_explode only through a
    function-local import inside storededup.sigstore_dedup_sink."""
    requeued = _requeued(base, tmp_path, "operators/dedup.py",
                         "{bi}L AS band_id", "{bi + 1}L AS band_id")
    assert requeued == {n for n, fn in registry.QUERIES.items()
                        if (f"{PKG}.operators.dedup", "_band_explode") in registry.reach(fn)}
    assert {"streaming_sigstore_replay", "near_dup_lsh_verified"} <= requeued
    assert "q1_pricing_summary" not in requeued


def test_comment_only_edit_requeues_nothing(base, tmp_path):
    line = 'AS band_id, xxhash64({cols}) AS band_hash)"\n'
    assert not _requeued(base, tmp_path, "operators/dedup.py", line,
                         line[:-1] + "  # bands\n\n# note\n")
    # Docstrings of a function and of session.py, which every query hashes.
    assert not _requeued(base, tmp_path / "fn_doc", "operators/dedup.py",
                         '"""(doc, band_id, band_hash) rows from',
                         '"""(doc, band_id, band_hash) rows, one per band, from')
    assert not _requeued(base, tmp_path / "module_doc", "session.py",
                         '"""SparkSession factory with pinned configs.',
                         '"""SparkSession factory with pinned confs.')


def test_oracle_edit_requeues_only_its_query(base, tmp_path):
    assert _requeued(base, tmp_path, "queries/tpch.py", "AND l_quantity < 24\n",
                     "AND l_quantity < 24.0\n") == {"q6_forecast_revenue"}


def test_session_edit_requeues_everything(base, tmp_path):
    assert _requeued(base, tmp_path, "session.py", "import os\n",
                     "import os\n\n_EDIT = 1\n") == set(base)


_PROFILE = r"""
import inspect, json, os, sys, threading
sys.path.insert(0, sys.argv[1])
from ballista_extensions_spark.queries import registry, streaming_replay
from ballista_extensions_spark.session import get_session

streaming_replay._STAGE_ROOT = sys.argv[2]
pkg_dir = os.path.dirname(os.path.dirname(registry.__file__))
called = set()

def profile(frame, event, arg):
    # CO_NEWLOCALS marks function code; module and class bodies that an
    # import runs lack it and are not calls.
    code = frame.f_code
    if (event == "call" and code.co_flags & inspect.CO_NEWLOCALS
            and code.co_filename.startswith(pkg_dir)):
        called.add((frame.f_globals["__name__"], code.co_qualname.split(".")[0]))

threading.setprofile(profile)  # foreachBatch sinks run on callback threads
sys.setprofile(profile)
spark = get_session("reach-crosscheck")
out = {}
for name in sys.argv[4:]:
    called.clear()
    registry.QUERIES[name](spark, sys.argv[3])
    seen = set(called)
    out[name] = [len(seen), sorted(seen - registry.reach(registry.QUERIES[name]))]
sys.setprofile(None)
threading.setprofile(None)
spark.stop()
print("RESULT:" + json.dumps(out))
"""


def test_static_reach_covers_driver_calls(tmp_path, sf_dir):
    """Every package function the driver calls while building a query
    (eager actions and replay sinks included) is in the query's static
    reach, so code hashing sees at least what plan hashing saw."""
    names = ["q18_large_orders", "multimodal_decode_png", "multimodal_curation_funnel",
             "streaming_sigstore_replay"]
    out = subprocess.run([sys.executable, "-c", _PROFILE, registry.REPO_ROOT,
                          str(tmp_path), sf_dir, *names],
                         capture_output=True, text=True, timeout=1200)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT:")]
    assert lines, out.stderr[-3000:]
    for name, (n_called, missing) in json.loads(lines[0][len("RESULT:"):]).items():
        assert n_called > 3 and missing == [], (name, missing)


def test_fixed_evidence_tier_names_are_registered():
    """The bench cost tier is derived, not hand-kept: ``fixed_evidence``
    is exactly the audits registered through ``register_audit`` plus
    the queries of ``queries/streaming_replay.py``."""
    from ballista_extensions_spark.queries.audits import AUDITS

    assert len(AUDITS) == 9 and set(AUDITS) <= set(registry.QUERIES)
    replays = {n for n, fn in registry.QUERIES.items()
               if fn.__module__.endswith(".queries.streaming_replay")}
    assert len(replays) == 7
    fixed = {n for n in registry.QUERIES
             if registry.query_tier(n) == "fixed_evidence"}
    assert fixed == set(AUDITS) | replays
    assert {registry.query_tier(n) for n in registry.QUERIES} == {
        "fixed_evidence", "per_row"}
    assert registry.query_tier("dsir_gumbel_audit") == "fixed_evidence"
    # a real-oracle audit is priced like any per-row query
    assert registry.query_tier("bpe_contract_audit") == "per_row"
    assert registry.query_tier("q1_pricing_summary") == "per_row"
