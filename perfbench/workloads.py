"""The benchmark's workloads: which seeded image each one reads and the
queries of one pass. Names are the engine's ledger queries
(`graft.SparkEntry.queries`), or `ingest.*` steps from the harness's
Ingest object. Why each workload exists is in README.md; BENCHMARK.json
lists the ones a benchmark comparison runs.

`reference` holds a workload's cold-pass and warm-pass seconds on the
reference machine (4 cores, README.md); a run's warm pass count is
sized from them and --seconds, and is then fixed for every commit."""

WORKLOADS = {
    # Datamancer's verb surface: many short plans, bound by plan building,
    # Catalyst and job scheduling; no operator-launched jobs, kernels or
    # pins
    "verbs-sf0.01": {
        "base": "sf0.01", "scale": False,
        "queries": ["q_filter", "q_grouped_filter", "q_gather",
                    "q_inner_join", "q_lag"],
        "reference": {"cold_s": 6.8, "pass_s": 2.05},
    },
    # Run by hand only (README.md): batch near-dup and ANN curation, with
    # eager training and strip jobs, native kernels and plan-cache pins.
    # Its pass time varies too much between runs for a 0.25 bound.
    "curate-sf0.01": {
        "base": "sf0.01", "scale": False,
        "queries": ["q_minhash_pairs", "q_simhash_pairs", "q_winnow_pairs",
                    "q_pq_encode"],
        "reference": {"cold_s": 10.0, "pass_s": 3.5},
    },
    # the near-dup core used incrementally against stored keys, with
    # fingerprint-store and sink writes beside the reads
    "ingest-sf0.01": {
        "base": "sf0.01", "scale": False,
        "queries": ["ingest.q_csv_roundtrip", "ingest.q_jsonl_roundtrip",
                    "ingest.q_dedup_incr_store", "q_dedup_incr"],
        "reference": {"cold_s": 12.0, "pass_s": 4.2},
    },
    # Run by hand only (README.md): graft.ScaleUp's x10 image of the
    # seeded sf0.01 tables, where the global two-pass shift, SemDeDup
    # cells and winnow verify see ten times the rows.
    "scale-x10": {
        "base": "sf0.01", "scale": True,
        "queries": ["q_global_lag", "q_semantic_dedup", "q_winnow_pairs",
                    "q_gather", "q_quality"],
        "reference": {"cold_s": 30.0, "pass_s": 15.0},
    },
    # The self-test's small workload (selftest.py).
    "selftest-sf0.001": {
        "base": "sf0.001", "scale": False,
        "queries": ["q_filter", "q_minhash_pairs"],
        "reference": {"cold_s": 3.0, "pass_s": 1.0},
    },
}
