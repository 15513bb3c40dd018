"""The driver checks only the first 50 queries per round; registry order
is therefore a rotation schedule derived from past CORRECTNESS_r*.json
files.  Pin the three-tier sort: previously-failed first, then
never-attempted, then driver-green (least recently verified first),
ties broken by name."""

from __future__ import annotations

import json

from vector_ai_npm_spark import registry


def test_driver_history_tiers(monkeypatch, tmp_path):
    rows = {
        "green_q": {
            "rows_match": True,
            "schema_match": True,
            "hash_match": True,
            "err": None,
        },
        "red_q": {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "err": "TypeError: boom",
        },
        "rows_only_q": {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": 7,
            "err": "no_oracle",
        },
        "flipped_q": {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": 7,
            "err": "no_oracle",
        },
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    monkeypatch.setattr(
        registry.Path,
        "glob",
        lambda self, pat: iter([tmp_path / "CORRECTNESS_r01.json"]),
    )
    # flipped_q has since gained an oracle: its old rows-only pass no
    # longer counts and it must be re-verified under the hash gate.
    monkeypatch.setitem(registry._ORACLES, "flipped_q", "SELECT 1")
    verified, attempted, last_green = registry._driver_history()
    assert "green_q" in verified
    assert "rows_only_q" in verified
    assert "red_q" in attempted and "red_q" not in verified
    assert "flipped_q" in attempted and "flipped_q" not in verified
    assert last_green["green_q"] == 1
    assert "red_q" not in last_green


def test_last_green_round_tracks_latest(monkeypatch, tmp_path):
    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"old_q": green, "fresh_q": green})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"fresh_q": green}))
    files = [tmp_path / "CORRECTNESS_r03.json", tmp_path / "CORRECTNESS_r01.json"]
    monkeypatch.setattr(registry.Path, "glob", lambda self, pat: iter(files))
    verified, _attempted, last_green = registry._driver_history()
    assert verified == {"old_q", "fresh_q"}
    assert last_green == {"old_q": 1, "fresh_q": 3}


def test_window_prioritizes_unverified():
    qs = list(registry.all_queries())
    verified, attempted, _last_green = registry._driver_history()
    window, rest = qs[:50], qs[50:]
    # No driver-green query may hold a window slot while any unverified
    # query sits outside the window.
    unverified_outside = [n for n in rest if n not in verified]
    if unverified_outside:
        assert all(n not in verified for n in window)
    # Previously-failed queries re-enter the next window immediately.
    failed = [n for n in registry.all_queries() if n in attempted and n not in verified]
    for name in failed:
        assert name in window


def test_every_driver_row_is_registered():
    """Every name the driver has a CORRECTNESS_r*.json row for must
    still be registered: a query that moves between modules keeps its
    name, so a row whose name vanished means a face was lost."""
    from pathlib import Path

    root = Path(registry.__file__).resolve().parents[1]
    seen: set[str] = set()
    for path in root.glob("CORRECTNESS_r*.json"):
        seen |= set(json.loads(path.read_text()))
    registry._load_all_modules()
    missing = seen - set(registry._QUERIES)
    assert seen and not missing, f"driver rows, no registered query: {missing}"


# Queries added in rounds 10, 11 and 13, pinned BY NAME so a rename or a
# lost registration during a module move shows up as a missing name.
ROUND10_ADDITIONS = frozenset({
    "eval_kendall_tau_exact",
    "multimodal_decode_tiff",
    "multimodal_decode_jpeg_progressive",
    "similarity_search_knn_graph",
    "knn_graph_recall_contract",
    "multimodal_decode_webp",
    "similarity_search_ivf_filtered",
    "ivf_filtered_recall_contract",
    "multimodal_exif_orientation",
    "vector_quantize_rq",
    "graph_ktruss",
    "multimodal_pdf_pages",
    "scan_jsonl_gzip",
    "stream_join_left_outer",
    "scan_csv_dialect",
    "scan_python_datasource",
    "events_forecast_holt",
    "multimodal_apng_frames",
    "similarity_search_ivfrq",
    "ivfrq_recall_contract",
    "stream_checkpoint_restart",
    "join_geo_radius",
    "multimodal_wav_dims",
    "er_cluster_mentions",
    "store_time_travel_diff",
    "scan_xml",
    "xml_funcs",
    "dedup_exact_substring",
    "multimodal_mp4_dims",
    "udtf_dynamic_schema",
})

ROUND11_ADDITIONS = frozenset({
    "multimodal_decode_jpeg_variants",
    "vector_store_ivf_delete",
    "udtf_table_argument",
    "scan_npy_embeddings",
    "graph_scc",
    "join_temporal_validity",
    "stream_dedup_within_watermark",
    "ivm_incremental_agg",
    "eval_bleu_components",
    "graph_condensation",
    "store_manifest_acid",
    "basket_itemsets_apriori",
    "agg_count_min_sketch",
})

ROUND13_ADDITIONS = frozenset({
    "knn_graph_insert_contract",
    "multimodal_decode_tiff_jpeg",
})


def test_round10_additions_registered():
    registry._load_all_modules()
    missing = ROUND10_ADDITIONS - set(registry._QUERIES)
    assert not missing, f"ROUND10_ADDITIONS names not registered: {missing}"


def test_round11_additions_registered():
    registry._load_all_modules()
    missing = ROUND11_ADDITIONS - set(registry._QUERIES)
    assert not missing, f"ROUND11_ADDITIONS names not registered: {missing}"


def test_round13_additions_registered():
    registry._load_all_modules()
    missing = ROUND13_ADDITIONS - set(registry._QUERIES)
    assert not missing, f"ROUND13_ADDITIONS names not registered: {missing}"


def test_registration_has_no_import_order_dependency():
    """Importing every package module in REVERSE discovery order (in a
    fresh interpreter) registers the same (name, oracle) set as the
    normal walk: no module relies on another having registered first
    unless it imports that module itself."""
    import subprocess
    import sys
    from pathlib import Path

    script = (
        "import importlib, json, pkgutil\n"
        "import vector_ai_npm_spark as pkg\n"
        "names = [m.name for m in pkgutil.walk_packages(\n"
        "    pkg.__path__, pkg.__name__ + '.')]\n"
        "for name in reversed(names):\n"
        "    importlib.import_module(name)\n"
        "from vector_ai_npm_spark import registry\n"
        "print(json.dumps(sorted(\n"
        "    [n, registry._ORACLES.get(n)] for n in registry._QUERIES)))\n"
    )
    root = Path(registry.__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, check=True,
        capture_output=True, text=True,
    ).stdout
    oracles = registry.all_oracles()
    expected = sorted([n, oracles.get(n)] for n in registry.all_queries())
    assert json.loads(out.splitlines()[-1]) == expected


def test_never_attempted_tier_is_fifo(monkeypatch):
    """Within the never-attempted tier the window fills in name order:
    registration order carries no meaning, so ties break by name.  With
    no driver history every query is never-attempted, so the whole
    order is the name order."""
    qs = list(registry.all_queries())
    _verified, attempted, _ = registry._driver_history()
    never = [n for n in qs if n not in attempted]
    assert never == sorted(never)
    monkeypatch.setattr(registry.Path, "glob", lambda self, pat: iter([]))
    qs = list(registry.all_queries())
    assert qs == sorted(qs)


def test_rotation_is_deterministic():
    assert list(registry.all_queries()) == list(registry.all_queries())


def test_green_tier_orders_least_recently_verified_first():
    """Once every query is green, the window must not freeze: greens are
    sorted by the round of their last green row, oldest first, so the
    50-slot window cycles through the registry re-verifying stale rows."""
    qs = list(registry.all_queries())
    verified, _attempted, last_green = registry._driver_history()
    green_keys = [(last_green.get(n, 0), n) for n in qs if n in verified]
    assert green_keys == sorted(green_keys)


def test_window_rotates_off_previous_round():
    """Against the repo's real driver history: the upcoming 50-slot
    window must differ from the latest round's checked set by >= 40
    names whenever every query is green (the r4 freeze regression)."""
    import re
    from pathlib import Path

    root = Path(registry.__file__).resolve().parents[1]
    files = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)", p.stem).group(1)),
    )
    if not files:
        return
    latest = set(json.loads(files[-1].read_text()))
    qs = list(registry.all_queries())
    verified, attempted, _ = registry._driver_history()
    if any(n not in verified for n in attempted) or len(verified) < len(qs):
        return  # reds / never-attempted legitimately re-front the window
    window = set(qs[:50])
    assert len(window - latest) >= 40, (
        f"window repeats {len(window & latest)} of the previous round's names"
    )


def test_rotation_covers_all_queries_within_cycle(monkeypatch, tmp_path):
    """Simulate the driver against the real registry: starting from
    all-green history, repeatedly (a) take the first-50 window, (b)
    record a green row for it at round r, (c) re-sort. Every registered
    query must be re-verified within ceil(n/50) rounds — the window
    must never freeze on a subset."""
    import math

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "err": None,
    }
    rows_only = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": 1,
        "err": "no_oracle",
    }
    names = list(registry.all_queries())
    oracles = set(registry.all_oracles())
    files = []

    def fake_glob(self, pat):
        return iter(list(files))

    monkeypatch.setattr(registry.Path, "glob", fake_glob)
    # round 0: everything green at once
    f0 = tmp_path / "CORRECTNESS_r00.json"
    f0.write_text(json.dumps(
        {n: (green if n in oracles else rows_only) for n in names}
    ))
    files.append(f0)

    seen_rounds = {}
    cycle = math.ceil(len(names) / 50)
    for r in range(1, cycle + 1):
        window = list(registry.all_queries())[:50]
        for n in window:
            seen_rounds.setdefault(n, r)
        f = tmp_path / f"CORRECTNESS_r{r:02d}.json"
        f.write_text(json.dumps(
            {n: (green if n in oracles else rows_only) for n in window}
        ))
        files.append(f)
    missed = [n for n in names if n not in seen_rounds]
    assert not missed, f"{len(missed)} queries never re-verified: {missed[:5]}"
