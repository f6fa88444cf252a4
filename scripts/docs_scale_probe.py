"""N-x DOCUMENTS scale probe for the dedup tier (VERDICT r4 item 6).

PERF.md's dedup scaling table tops out at 10x documents (50k docs);
this script produces the 100x row (500k docs, the sf1-equivalent
corpus) for the heaviest dedup paths, so the S-curve / prefix-filter
parameter claims rest on a measurement instead of an extrapolation.

Fixture construction mirrors the session-5/7 probes: each replica
r >= 1 prefixes every token with `r{r}` and shifts doc_ids by
r * 10_000_000. Token perturbation is the point — unperturbed replicas
are near-dups OF EACH OTHER, so the true-pair count (the output
itself) would grow quadratically by construction and the probe would
measure the corpus's duplicate structure, not the plan. With
perturbed tokens no shingle collides across replicas: candidate
generation must stay linear in replicas if (and only if) the
banding / prefix filter holds.

Usage: python scripts/docs_scale_probe.py [--replicas N] [query ...]
Writes the fixture under .tmp_io/docs{N}x_probe (gitignored; reused
if present — delete to regenerate). Non-document tables symlink to
the sf0.1 fixtures unchanged.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from loan_default_prediction_app_big_data_spark.harness import run_query, warm_session  # noqa: E402
from loan_default_prediction_app_big_data_spark.session import get_spark  # noqa: E402

SF_BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
DEFAULT_QUERIES = [
    "simhash_dedup",            # largest absolute dedup cost at 10x (71.8 s)
    "minhash_native_dedup",     # banded-LSH S-curve path
    "duplicated_ngram_span_fraction",  # exact-substring two-level hashing
    "exact_dedup_docs",
]


def build_fixture(replicas: int) -> str:
    probe_dir = os.path.join(REPO, ".tmp_io", f"docs{replicas}x_probe")
    done = os.path.join(probe_dir, "_DONE")
    if os.path.exists(done):
        return probe_dir
    os.makedirs(probe_dir, exist_ok=True)
    import duckdb

    src = os.path.join(SF_BASE, "documents.parquet")
    dst = os.path.join(probe_dir, "documents.parquet")
    # One SQL pass: replica 0 is the original corpus byte-identical;
    # replicas 1..N-1 perturb every token and shift ids/sources.
    duckdb.sql(
        f"""
        COPY (
            SELECT doc_id, text, lang, source, n_chars
            FROM read_parquet('{src}')
            UNION ALL
            SELECT d.doc_id + r.r * 10000000 AS doc_id,
                   array_to_string(
                       list_transform(string_split(d.text, ' '),
                                      tok -> 'r' || r.r || tok),
                       ' ') AS text,
                   d.lang,
                   d.source || '_r' || r.r AS source,
                   d.n_chars
            FROM read_parquet('{src}') d,
                 (SELECT unnest(generate_series(1, {replicas - 1})) AS r) r
        ) TO '{dst}' (FORMAT PARQUET)
        """
    )
    for t in ALL_TABLES:
        if t == "documents":
            continue
        link = os.path.join(probe_dir, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(SF_BASE, f"{t}.parquet"), link)
    open(done, "w").close()
    return probe_dir


def main() -> int:
    args = sys.argv[1:]
    replicas = 100
    if "--replicas" in args:
        i = args.index("--replicas")
        replicas = int(args[i + 1])
        del args[i : i + 2]
    queries = args or DEFAULT_QUERIES

    probe_dir = build_fixture(replicas)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, SF_BASE)

    print(f"# {replicas}x documents probe ({probe_dir})")
    for name in queries:
        for sf_dir, label in ((SF_BASE, "sf0.1"), (probe_dir, f"{replicas}x")):
            n_runs = 2 if sf_dir == SF_BASE else 1
            best = min(run_query(spark, name, sf_dir) for _ in range(n_runs))
            print(f"{name} @ {label}: {best:.1f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
