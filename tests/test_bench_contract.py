"""Bench output contract: the driver's capture keeps only the last 2000
bytes and parses the final line, so the emitted JSON must fit — this
failed silently in round 3 (BENCH_r03 parsed: null) when the query list
outgrew the buffer. Round 5 compresses the emitted dict to short
positional keys (k0..kN) with a committed key map; these tests pin the
line budget AND the map. Fail at test time, not at bench time."""

from __future__ import annotations

import json
import os

import pytest

import bench

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def _encode(values: dict, with_oob: bool = True) -> str:
    # model EVERY field the real line can carry at its worst case —
    # ADVICE r8: warmup_s/warmup_failed were emitted but missing here, so
    # the pinned budget understated the real envelope by ~17-35 bytes;
    # with_oob mirrors bench.py's last-resort fallback (which drops the
    # band-flag block to save the per-entry record)
    rec = {
        "metric": "bench_total_seconds",
        "value": 99999.99,
        "unit": "sec",
        "key_map": "BENCH_KEYS.json",
        "queries": values,
        "sf": 0.1,
        "warmup_s": 9999.9,
        "era": 4.0,
        "probe_mps": [99999.0, 99999.0],
        "warmup_failed": len(bench.WARMUP_QUERIES),
    }
    if with_oob:
        n = len(bench.BENCH_KEYS)
        rec["oob"] = [f"k{i}" for i in range(n - 12, n)]  # widest 12 keys
        rec["oob_n"] = n
        rec["load1"] = 99.9
        rec["oob_raw_n"] = n  # ADVICE r9: raw flag count rides the line too
    return json.dumps(rec, separators=(",", ":"))


def test_bench_json_line_fits_driver_capture():
    keys = list(bench.BENCH_KEYS.values())
    # the HARD guarantee: bench.py's final integer fallback must fit the
    # 2000-byte buffer even with every entry in the 1000-9999 s range (a
    # pathological stalled run — the 1-decimal model alone missed this,
    # round-4 review finding)
    # bench.py's true last resort drops the oob block (with_oob=False)
    fallback = _encode({k: 9999 for k in keys}, with_oob=False)
    assert len(fallback) <= 1990, (
        f"bench JSON line would be {len(fallback)} chars even at integer "
        f"precision; trim BENCH_QUERIES (see bench.py MAX_LINE note)"
    )
    # the common fallback: 1-decimal with every entry at 100+ seconds
    fallback1 = _encode({k: 111.2 for k in keys})
    assert len(fallback1) <= 1990
    # the common case: 2-decimal sub-100s entries should not even need
    # the fallback
    typical = _encode({k: 11.23 for k in keys})
    assert len(typical) <= bench.MAX_LINE, (
        "typical 2-decimal line no longer fits without the fallback; "
        "consider trimming BENCH_QUERIES"
    )


def test_bench_queries_resolve():
    from petasearch_spark.registry import REGISTRY

    for name in bench.BENCH_QUERIES:
        assert name in bench.BENCH_ONLY or name in REGISTRY, name
    # everything registered is benched, except the documented combined
    # layout entries whose cost is exactly the benched build + query
    # split (bench.py BENCH_ONLY note)
    unbenched = set(REGISTRY) - set(bench.BENCH_QUERIES)
    assert unbenched == {"protein_prefilter_bucketed", "protein_prefilter_sharded"}, unbenched


def test_bench_key_map_committed_and_stable():
    # keys are positional and the list is append-only, so the committed
    # BENCH_KEYS.json must match bench.py's derivation exactly — a drifted
    # map silently mislabels every BENCH_r*.json entry
    with open(os.path.join(REPO, "BENCH_KEYS.json")) as f:
        committed = json.load(f)
    derived = {k: name for name, k in bench.BENCH_KEYS.items()}
    assert committed == derived, (
        "BENCH_KEYS.json drifted from bench.BENCH_KEYS — rerun "
        "scripts/gen_bench_keys.py (append-only: existing keys must not move)"
    )
    assert len(set(bench.BENCH_KEYS.values())) == len(bench.BENCH_QUERIES)


def test_bench_survives_a_failing_entry(monkeypatch, capsys):
    """One broken query must not cost the round's whole per-query record:
    the loop records the failure under "failed" and keeps timing the
    rest, and the final line still fits the driver buffer."""
    calls = []

    class _FakeWriter:
        def format(self, *_a):
            return self

        def mode(self, *_a):
            return self

        def save(self):
            return None

    class _FakeDF:
        write = _FakeWriter()

    class _FakeCatalog:
        def clearCache(self):
            return None

    class _FakeRange:
        def selectExpr(self, *_a):
            return self

        def collect(self):
            return [(0, 0)]

        def mapInPandas(self, *_a, **_k):
            return self

        def count(self):
            return 0

    class _FakeRead:
        def parquet(self, *_a):
            return _FakeRange()

    class _FakeSpark:
        catalog = _FakeCatalog()
        read = _FakeRead()

        def range(self, *_a):
            return _FakeRange()

        def stop(self):
            return None

    def fake_fn_ok(_s, _d):
        calls.append("ok")
        return _FakeDF()

    def fake_fn_boom(_s, _d):
        raise RuntimeError("synthetic failure")

    fakes = {}
    for i, name in enumerate(bench.BENCH_QUERIES):
        fakes[name] = (fake_fn_boom if i == 1 else fake_fn_ok, None)
    monkeypatch.setattr(bench, "REGISTRY", fakes)
    monkeypatch.setattr(bench, "BENCH_ONLY", {})
    monkeypatch.setattr(bench, "get_spark", lambda *_a, **_k: _FakeSpark())
    monkeypatch.setattr(bench, "release_lineage_cuts", lambda _df: None)  # a fake frame has no plan
    bench.main()
    out = capsys.readouterr()
    line = out.out.strip().splitlines()[-1]
    rec = json.loads(line)
    bad_key = bench.BENCH_KEYS[bench.BENCH_QUERIES[1]]
    assert rec["failed"] == [bad_key]
    assert bad_key not in rec["queries"]
    assert len(rec["queries"]) == len(bench.BENCH_QUERIES) - 1
    assert len(line) <= 1990
    assert "synthetic failure" in out.err


def test_bench_bands_cover_every_key_and_flag_regressions():
    """Round-5 VERDICT item 3: bench first-run variance exceeded the
    regression threshold and the warm re-time protocol lived only as
    BASELINE.md prose. BENCH_BANDS.json makes it machine-checkable:
    every key carries an expected [lo, hi], bench.py emits the
    out-of-band keys on the JSON line, and this test pins the wiring
    against the committed representative quiet sample."""
    with open(os.path.join(REPO, "BENCH_BANDS.json")) as f:
        bands = json.load(f)["bands"]
    # full coverage of the current key set (regen scripts/gen_bench_bands.py
    # after appending bench entries), sane bounds; keys appended since the
    # last quiet-sample regen are the ONLY permitted gaps (out_of_band
    # skips them) — currently the round-9 sharded-layout trio, banded at
    # the next quiet regen
    missing = set(bench.BENCH_KEYS.values()) - set(bands)
    allowed_missing = {bench.BENCH_KEYS[n] for n in (
        # round-9 sharded-layout trio + round-10 interactive-search pair:
        # banded at the next quiet-era regen (no quiet window has
        # appeared since they landed — VERDICT r9 item 5)
        "protein_prefilter_sharded_build",
        "protein_prefilter_sharded_query",
        "protein_prefilter_sharded_probe1",
        "protein_search_sharded",
        "protein_search_sharded_probe1",
        "protein_search_stream",
        "protein_search_sharded_delta",
        "protein_index_stream_append",
    )}
    assert missing <= allowed_missing, f"unbanded keys beyond the post-quiet-regen additions: {missing - allowed_missing}"
    assert set(bands) <= set(bench.BENCH_KEYS.values())
    for k, (lo, hi) in bands.items():
        assert 0 <= lo < hi, (k, lo, hi)

    # r7: the committed sample and the bands both come from WARM runs —
    # bench.py's kernel warm-up pass removed the first-run compile
    # variance that forced the old hi=2*max law; the law is now 1.4*max
    with open(os.path.join(REPO, "BENCH_SAMPLE_r7.json")) as f:
        sample = json.load(f)["queries"]
    # the committed quiet sample is fully in band (it is a band input —
    # this asserts the band law and the reader agree)
    assert bench.out_of_band(sample) == []
    # a synthetic 10x regression on the flagship search entry flags
    assert bench.out_of_band({**sample, "k22": sample["k22"] * 10}) == ["k22"]
    # an entry suddenly doing near-zero work flags too (lo bound)
    assert bench.out_of_band({**sample, "k22": 0.01}) == ["k22"]
    # keys appended before the next band regen are skipped, not failed
    assert bench.out_of_band({"k999": 123.0}) == []


def test_era_normalization_rescues_throttled_sample():
    """Round-8 VERDICT item 1: the host can throttle sustained 32-wide
    work ~1.65x for a whole day, uniformly inflating every entry and
    scattering 43-57 phantom oob flags per artifact. The self-normalized
    era coefficient (median observed/center) must (a) re-read such a
    sample with zero spurious flags, (b) still flag a REAL per-key
    regression inside it, and (c) keep the lo bound RAW so a key doing
    suspiciously little work flags even in a throttled sample."""
    with open(os.path.join(REPO, "BENCH_SAMPLE_r7.json")) as f:
        quiet = json.load(f)["queries"]

    # a uniform 1.8x-throttled era
    slowdown = 1.8
    throttled = {k: round(v * slowdown, 2) for k, v in quiet.items()}
    assert abs(bench.era_coefficient(throttled) - slowdown) < 0.05
    # raw reading scatters flags...
    assert len(bench.out_of_band(throttled, 1.0)) > 20
    # ...the era-corrected reading is clean
    era = bench.era_coefficient(throttled)
    assert bench.out_of_band(throttled, era) == []
    # default era=None self-computes the same coefficient
    assert bench.out_of_band(throttled) == []
    # a real 10x regression on the flagship STILL flags through the era
    # (one key cannot move the median of ~125)
    regressed = {**throttled, "k22": throttled["k22"] * 10}
    assert bench.out_of_band(regressed) == ["k22"]
    # lo stays raw: an entry suddenly doing near-zero work flags even
    # though dividing by the era would only push it further down
    dead = {**throttled, "k22": 0.01}
    assert bench.out_of_band(dead) == ["k22"]

    # the committed round-8 uniform-era artifact itself: raw reading was
    # the round-8 blindness (dozens of flags), era-corrected is ~clean
    with open(os.path.join(REPO, "BENCH_SAMPLE_r8a.json")) as f:
        r8a = json.load(f)["queries"]
    assert 1.3 < bench.era_coefficient(r8a) < 1.6
    assert len(bench.out_of_band(r8a, 1.0)) >= 25
    assert len(bench.out_of_band(r8a)) <= 5

    # clamps: a faster-than-quiet host never pushes corrected values UP
    # into hi flags (floor 1.0); a catastrophic sample cannot
    # self-excuse beyond 4x (ceiling)
    fast = {k: v * 0.5 for k, v in quiet.items()}
    assert bench.era_coefficient(fast) == 1.0
    dead_host = {k: v * 10 for k, v in quiet.items()}
    assert bench.era_coefficient(dead_host) == 4.0
    # degraded mode: no centers -> raw comparison
    assert bench.era_coefficient(quiet, {"bands": {}}) == 1.0


def test_committed_bands_carry_centers():
    """The era normalization is only live once the committed bands file
    carries per-key quiet centers (gen_bench_bands.py; bootstrapped
    --centers-only from BENCH_SAMPLE_r7.json in round 9)."""
    with open(os.path.join(REPO, "BENCH_BANDS.json")) as f:
        doc = json.load(f)
    assert set(doc["centers"]) == set(doc["bands"])
    for k, c in doc["centers"].items():
        lo, hi = doc["bands"][k]
        assert lo <= c <= hi, (k, lo, c, hi)


@pytest.mark.parametrize("name", ["gopher_quality", "dedup_clusters"])
def test_run_entry_releases_lineage_cuts(spark, name):
    """Both entries cut lineage with checkpoints, whose blocks clearCache()
    cannot release: gopher_quality returns a frame over its cut, and
    dedup_clusters also cuts every propagation round. Run through
    run_entry, each leaves the session's persisted RDDs as it found them."""
    from tests.conftest import SF_SMOKE

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    assert bench.run_entry(spark, name, SF_SMOKE) > 0
    spark.catalog.clearCache()
    assert jsc.getPersistentRDDs().size() == before
