#!/usr/bin/env python3
"""Self-tests of the pipeline benchmark.

    python3 perfbench/selftest.py            # checker tests, then a smoke run per workload
    python3 perfbench/selftest.py --no-smoke # checker tests only (no JVM)

The checker tests prove the output checks reject a wrong output: a contig
with one flipped base, and a curation output that drops a keeper. The smoke
runs drive each workload end to end on seconds-long inputs.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

FAILURES = []


def expect(name: str, cond: bool, detail: str = "") -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {name}" + (f": {detail}" if detail and not cond else ""))
    if not cond:
        FAILURES.append(name)


def write_fasta(out: str, seqs: list) -> None:
    os.makedirs(os.path.join(out, "Assembly"), exist_ok=True)
    with open(os.path.join(out, "Assembly", "part-00000"), "w") as f:
        for i, s in enumerate(seqs):
            f.write(f">Contig-{i + 1}-{len(s)}\n" + "\n".join(
                s[j:j + 100] for j in range(0, len(s), 100)) + "\n")


def test_assembly_check(tmp: str) -> None:
    data = gen.ensure(tmp, "reads", 7, dict(genome_bp=5000, read_len=100, cover=5, error=0.0))
    with open(os.path.join(data, "truth", "genome.txt")) as f:
        genome = f.read()
    out = os.path.join(tmp, "asm_ok")
    write_fasta(out, [genome[:3000], gen.revcomp(genome[2900:])])
    errors, q = check.assembly(out, data, 500)
    expect("exact contigs pass", not errors, str(errors))
    expect("genome_frac of exact contigs is 1", q["genome_frac"] == 1.0, str(q))
    expect("ng50 share of a 3000+2100 split", q["ng50_frac"] == 3000 / 5000, str(q))

    bad = genome[:1500] + {"A": "C", "C": "G", "G": "T", "T": "A"}[genome[1500]] + genome[1501:3000]
    out = os.path.join(tmp, "asm_flip")
    write_fasta(out, [bad, gen.revcomp(genome[2900:])])
    errors, _ = check.assembly(out, data, 500)
    expect("a contig with one flipped base is rejected", bool(errors))

    out = os.path.join(tmp, "asm_short")
    write_fasta(out, [genome[:400]])
    errors, _ = check.assembly(out, data, 500)
    expect("an output with no contig of min length is rejected", bool(errors))


def ideal_curation(data: str) -> dict:
    """The flags and curated tables a correct curation would write, as far as
    the check can tell: md5 exact dedup, planted groups collapsed onto their
    minimum doc_id, test-window docs unclean."""
    docs = pq.read_table(os.path.join(data, "input", "docs.parquet")).to_pydict()
    roles = pq.read_table(os.path.join(data, "truth", "roles.parquet")).to_pydict()
    role = dict(zip(roles["doc_id"], roles["role"]))
    grp = dict(zip(roles["doc_id"], roles["grp"]))
    lo = {}
    for d in docs["doc_id"]:
        if grp[d] >= 0:
            lo[grp[d]] = min(lo.get(grp[d], d), d)
    keeper = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        h = hashlib.md5(t.encode()).digest()
        keeper[h] = min(keeper.get(h, d), d)
    flags = {"doc_id": [], "exact_keep": [], "clean": [], "keep": []}
    for d, t in zip(docs["doc_id"], docs["text"]):
        exact = int(keeper[hashlib.md5(t.encode()).digest()] == d)
        clean = int(role[d] != gen.CONTAM)
        dup = grp[d] >= 0 and lo[grp[d]] != d
        flags["doc_id"].append(d)
        flags["exact_keep"].append(exact)
        flags["clean"].append(clean)
        flags["keep"].append(int(exact and clean and not dup))
    return flags


def write_curation(out: str, flags: dict, curated_ids: list) -> None:
    shutil.rmtree(out, ignore_errors=True)
    for name in ("curation_flags", "curated"):
        os.makedirs(os.path.join(out, name))
    pq.write_table(pa.table({k: pa.array(v, pa.int64() if k == "doc_id" else pa.int32())
                             for k, v in flags.items()}),
                   os.path.join(out, "curation_flags", "part-00000.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(curated_ids, pa.int64())}),
                   os.path.join(out, "curated", "part-00000.parquet"))


def test_curation_check(tmp: str) -> None:
    data = gen.ensure(tmp, "corpus", 7, dict(n_docs=400, n_test=20))
    out = os.path.join(tmp, "cur")
    flags = ideal_curation(data)
    kept = [d for d, k in zip(flags["doc_id"], flags["keep"]) if k]
    write_curation(out, flags, kept)
    errors, q = check.curation(out, data)
    expect("a correct curation passes", not errors, str(errors))
    expect("dup_recall of a correct curation is 1", q.get("dup_recall") == 1.0, str(q))

    roles = pq.read_table(os.path.join(data, "truth", "roles.parquet")).to_pydict()
    # the smallest COPY doc_id is its group's keeper
    keeper = min(d for d, r in zip(roles["doc_id"], roles["role"]) if r == gen.COPY)
    i = flags["doc_id"].index(keeper)
    dropped = {k: list(v) for k, v in flags.items()}
    dropped["exact_keep"][i] = dropped["keep"][i] = 0
    write_curation(out, dropped, [d for d in kept if d != keeper])
    errors, _ = check.curation(out, data)
    expect("a curation that drops a copy group's keeper is rejected", bool(errors))

    write_curation(out, flags, [d for d in kept if d != keeper])
    errors, _ = check.curation(out, data)
    expect("a curated table missing one keeper is rejected", bool(errors))

    hot = [d for d, r in zip(roles["doc_id"], roles["role"]) if r == gen.HOT]
    two = {k: list(v) for k, v in flags.items()}
    second = sorted(hot)[1]
    two["keep"][two["doc_id"].index(second)] = 1
    write_curation(out, two, kept + [second])
    errors, _ = check.curation(out, data)
    expect("keeping a second copy of the hot text is rejected", bool(errors))


def test_benchmark_json() -> None:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    expect("BENCHMARK.json end_to_end matches run.py", e2e == run.END_TO_END,
           f"{e2e} != {run.END_TO_END}")
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    expect("BENCHMARK.json per_layer matches run.py", layers == run.PER_LAYER,
           str(set(layers) ^ set(run.PER_LAYER)))
    expect("BENCHMARK.json workloads match run.py",
           [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS))


def smoke(workload: str, trace: int) -> None:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--trace", str(trace), "--smoke"],
                       capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except ValueError:
        res = {}
    expect(f"smoke {workload} trace={trace}", p.returncode == 0 and res.get("correct") is True,
           p.stderr[-1500:])


def main() -> int:
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=bdir)
    try:
        test_assembly_check(tmp)
        test_curation_check(tmp)
        test_benchmark_json()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--no-smoke" not in sys.argv:
        for w in run.WORKLOADS:
            smoke(w, 0)
        smoke("asm_rounds", 1)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
