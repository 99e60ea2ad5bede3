"""The benchmark's two workloads.

Each workload makes its inputs from the seed (cached per seed and size,
together with the expected results), runs one cold first call for set-up,
runs measured passes, and checks every pass's outputs against the
expectations. The library only ever sees the generated input files.

- ``validate_resume``: seeded transcripts validated twice per pass, once
  by one ``runner.execute`` with the full trait spec, a ``drift:`` block
  and a violations sink (the north-star call, where pass 1 dominates), and
  once through ``write_bucketed`` and a resumable run killed part-way and
  resumed (two small ``execute`` calls, where planning, job launch,
  bucket listing and manifest rewrites dominate).
- ``mine_neardup``: the near-duplicate miners over seeded documents and
  vectors with an identical-document and a near-identical-vector flood.
  The runner and tableio do no work here.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# Sizes are set so that one run (three set-ups and one measured pass)
# takes about a minute on a 4-core host; "tiny" is for the self-test.
SIZES = {
    "validate_resume": {"full": {"turns": 60_000}, "tiny": {"turns": 20_000}},
    "mine_neardup": {
        "full": {"docs": 1_200, "vecs": 1_000},
        "tiny": {"docs": 500, "vecs": 500},
    },
}
RESUME_BUCKETS, RESUME_CHUNK, RESUME_KILL_AFTER = 16, 8, 1
DRIFT_BASELINE_ROWS = 50_000
FLOOD_FRAC = 0.02
IVF_QUERIES, IVF_K = 5, 5
COS_THRESHOLD, COS_BLOCKS = 0.4, 4


@dataclass
class Result:
    """One iteration: ``rows`` input rows over ``rate_wall`` seconds give
    rows_per_s; ``wall`` is the whole iteration; ``layer`` holds counts."""

    rows: int
    wall: float
    rate_wall: float
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


def _dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under a parquet output directory."""
    files = total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, n))
    return files, total


class Workload:
    name = ""
    # untimed passes after set-up, for calls the first call leaves cold
    warmup_passes = 0

    def __init__(self, size: str, seed: int, work: Path, tracer) -> None:
        self.size_name = size
        self.size = SIZES[self.name][size]
        self.seed = seed
        self.work = work
        dims = "-".join(f"{k}{v}" for k, v in self.size.items())
        self.inputs = work / "inputs" / f"{self.name}-{dims}-seed{seed}"
        self.scratch = work / f"run-{os.getpid()}"
        self.tracer = tracer
        self.expect: dict = {}
        self.exec_outs: list[dict] = []

    # ---- inputs and expectations -----------------------------------------

    def prepare(self) -> None:
        """Generate inputs and pure-Python expectations once per seed."""
        done = self.inputs / "expect.json"
        if not done.exists():
            # in a child process, so that the memory it takes does not
            # count in this process's peak RSS; a plain subprocess, which
            # is waited for, unlike the helper process multiprocessing
            # leaves running
            subprocess.run(
                [sys.executable, __file__, self.name, self.size_name, str(self.seed),
                 str(self.work)],
                check=True,
            )
        self.expect = json.loads(done.read_text())
        self.scratch.mkdir(parents=True, exist_ok=True)

    def _make_inputs(self) -> None:
        tmp = self.inputs.with_name(self.inputs.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        expect = self._generate(tmp)
        (tmp / "expect.json").write_text(json.dumps(expect))
        shutil.rmtree(self.inputs, ignore_errors=True)
        os.replace(tmp, self.inputs)

    def _save_expect(self) -> None:
        tmp = self.inputs / "expect.json.tmp"
        tmp.write_text(json.dumps(self.expect))
        os.replace(tmp, self.inputs / "expect.json")

    def _generate(self, d: Path) -> dict:
        raise NotImplementedError

    # ---- calls ------------------------------------------------------------

    def first_call(self, spark) -> list[str]:
        raise NotImplementedError

    def iteration(self, spark) -> Result:
        raise NotImplementedError

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)

    # ---- tracing ----------------------------------------------------------

    def instrument(self) -> None:
        """Wrap the library entry points this benchmark reaches; the
        workload only runs some of them."""
        from pysemantic_spark.operators import drift, runner
        from pysemantic_spark.sources import tableio

        t = self.tracer
        t.wrap(runner, "execute", "runner.execute", record=self.exec_outs.append)
        t.wrap(runner, "compile_spec", "compiler.compile_spec")
        t.wrap(drift, "spec_drift_report", "drift.spec_drift_report")
        t.wrap(tableio, "run_resumable", "tableio.run_resumable")
        io = tableio.ParquetManifestIO
        t.wrap(io, "write_bucketed", "tableio.write_bucketed")
        t.wrap(io, "read_buckets", "tableio.read_buckets")
        t.wrap(io, "save_manifest", "tableio.save_manifest")


# ---------------------------------------------------------------------------
# validate_resume
# ---------------------------------------------------------------------------


def _write_turns(d: Path, n: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysemantic_spark.fixtures import dim_tools_pdf, write_transcripts_parquet

    write_transcripts_parquet(str(d / "turns"), n, seed=seed, skew_conv_frac=0.01)
    pq.write_table(
        pa.Table.from_pandas(dim_tools_pdf(), preserve_index=False),
        d / "dim_tools.parquet",
    )


def _bins(x: np.ndarray, lo: float, hi: float, n_bins: int) -> list[int]:
    """Histogram counts with the layout of ``drift.bin_expr``: bin 0 is
    underflow, n_bins+1 overflow."""
    x = x.astype(np.float64)
    width = (hi - lo) / n_bins
    b = np.floor((x - lo) / width).astype(np.int64) + 1
    b = np.where(x < lo, 0, np.where(x >= hi, n_bins + 1, b))
    return np.bincount(b, minlength=n_bins + 2).tolist()


def _bucket_report(out: dict) -> dict[str, list[int]]:
    """bucket -> [rows, violating rows] from an ``execute`` result."""
    rep = out["partition_report"]
    return {
        str(int(b)): [int(n), int(v)]
        for b, n, v in zip(rep.bucket, rep.n_rows, rep.n_violating_rows)
    }


class ValidateResume(Workload):
    """One pass validates every turn twice: once in a single ``execute``
    with the drift block and a violations sink, and once through the
    bucketed table, written fresh, then a resumable run killed after
    ``RESUME_KILL_AFTER`` chunks, then the resume."""

    name = "validate_resume"

    def _generate(self, d: Path) -> dict:
        import pyarrow.parquet as pq

        from pysemantic_spark.fixtures import (
            dim_tools_pdf,
            pandas_oracle,
            transcripts_pdf,
            transcripts_spec,
        )
        from pysemantic_spark.operators.drift import (
            _cat_psi_laplace,
            _ks_counts,
            _psi_laplace_counts,
        )

        _write_turns(d, self.size["turns"], self.seed)
        pdf = pq.read_table(d / "turns").to_pandas()
        oracle = pandas_oracle(
            pdf, transcripts_spec(), {"dim_tools": dim_tools_pdf()}
        )
        counts = oracle["violations"]["check_name"].value_counts()

        # drift baseline from a second seed, in the sketch file format that
        # drift.save_drift_baseline writes
        base = transcripts_pdf(n_rows=DRIFT_BASELINE_ROWS, seed=self.seed + 7919)
        lo, hi, nb = float(base.turn_idx.min()), float(base.turn_idx.max()), 64
        hi = hi if hi > lo else lo + 1.0
        base_hist = _bins(base.turn_idx.to_numpy(), lo, hi, nb)
        base_cat = {str(k): int(v) for k, v in base.role.value_counts().items()}
        (d / "drift_baseline.json").write_text(json.dumps({
            "n_bins": nb,
            "columns": {
                "turn_idx": {"kind": "hist", "lo": lo, "hi": hi, "n_bins": nb,
                             "counts": base_hist},
                "role": {"kind": "cat", "counts": base_cat},
            },
        }))
        cur_hist = _bins(pdf.turn_idx.to_numpy(), lo, hi, nb)
        cur_cat = {str(k): int(v) for k, v in pdf.role.dropna().value_counts().items()}
        return {
            "rows": len(pdf),
            "check_counts": {str(k): int(v) for k, v in counts.items()},
            "dup_keys": len(oracle["dupes"]),
            "drift": {
                "turn_idx/psi": _psi_laplace_counts(base_hist, cur_hist),
                "turn_idx/ks": _ks_counts(base_hist, cur_hist),
                "role/psi": _cat_psi_laplace(base_cat, cur_cat),
            },
        }

    def _spec(self):
        from pysemantic_spark.fixtures import transcripts_spec
        from pysemantic_spark.spec import DriftSpec

        spec = transcripts_spec()
        spec.drift = DriftSpec(
            columns=["turn_idx", "role"],
            baseline=str(self.inputs / "drift_baseline.json"),
        )
        return spec

    def _read(self, spark):
        df = spark.read.parquet(str(self.inputs / "turns"))
        dims = {"dim_tools": spark.read.parquet(str(self.inputs / "dim_tools.parquet"))}
        return df, dims

    def _execute(self, spark) -> tuple[dict, list[str]]:
        from pysemantic_spark.operators import runner

        df, dims = self._read(spark)
        out = runner.execute(
            spark, df, self._spec(), dims=dims, bucket_by="conv_id",
            n_buckets=RESUME_BUCKETS,
            violations_sink=str(self.scratch / "violations" / "single"),
        )
        return out, self._check_validate(out)

    def first_call(self, spark) -> list[str]:
        return self._execute(spark)[1]

    def iteration(self, spark) -> Result:
        from pysemantic_spark.fixtures import transcripts_spec
        from pysemantic_spark.sources import tableio

        spec = transcripts_spec()
        vdir = self.scratch / "violations"
        t0 = time.perf_counter()
        out, errors = self._execute(spark)
        t1 = time.perf_counter()
        io = tableio.ParquetManifestIO(str(self.scratch / "table"))
        df, dims = self._read(spark)
        io.write_bucketed(df, "conv_id", RESUME_BUCKETS)
        t2 = time.perf_counter()
        killed = tableio.run_resumable(
            spark, io, spec, dims=dims, chunk_size=RESUME_CHUNK,
            max_chunks=RESUME_KILL_AFTER, violations_dir=str(vdir / "chunks"),
        )
        t3 = time.perf_counter()
        pending = io.load_manifest().pending()
        t4 = time.perf_counter()
        resumed = tableio.run_resumable(
            spark, io, spec, dims=dims, chunk_size=RESUME_CHUNK,
            violations_dir=str(vdir / "chunks"),
        )
        t5 = time.perf_counter()

        done_first = set(killed["processed"])
        if len(done_first) != RESUME_CHUNK * RESUME_KILL_AFTER:
            errors.append(f"killed run processed {len(done_first)} buckets")
        if set(pending) != set(range(RESUME_BUCKETS)) - done_first:
            errors.append(f"{len(pending)} buckets pending after the killed run")
        if set(resumed["processed"]) & done_first:
            errors.append("resume redid buckets the killed run finished")
        if sorted(resumed["skipped"]) != sorted(done_first):
            errors.append("resume did not skip exactly the finished buckets")
        single = _bucket_report(out)
        m = io.load_manifest()
        for b in range(RESUME_BUCKETS):
            e = m.entries[b]
            want = single.get(str(b), [0, 0])
            if e.status != "done" or [e.n_rows, e.n_violating_rows] != want:
                errors.append(
                    f"bucket {b}: {e.status} {[e.n_rows, e.n_violating_rows]}"
                    f" != single execute {want}"
                )
        files, nbytes = _dir_bytes(self.scratch / "table" / "data")
        _, in_bytes = _dir_bytes(self.inputs / "turns")
        _, sink_bytes = _dir_bytes(vdir)
        shutil.rmtree(vdir, ignore_errors=True)
        rows = self.expect["rows"]
        return Result(
            2 * rows,
            t5 - t0,
            (t1 - t0) + (t3 - t2) + (t5 - t4),
            errors,
            {
                "tableio.ingest_rows_per_s": rows / (t2 - t1),
                "tableio.files_written": files,
                "tableio.bytes_written_per_input_byte": nbytes / in_bytes,
                "sink_bytes": sink_bytes,
            },
        )

    def _check_validate(self, out: dict) -> list[str]:
        errors = []
        got = dict(zip(out["check_counts"].check_name, out["check_counts"].n_violations))
        for name, n in self.expect["check_counts"].items():
            if got.get(name) != n:
                errors.append(f"{name}: {got.get(name)} violations, oracle {n}")
        for name, n in got.items():
            if name.startswith("bad_cast:") and n != 0:
                errors.append(f"{name}: {n} violations, expected 0")
        if out["n_dup_keys"] != self.expect["dup_keys"]:
            errors.append(f"dup keys {out['n_dup_keys']} != {self.expect['dup_keys']}")
        if out["n_rows"] != self.expect["rows"]:
            errors.append(f"rows {out['n_rows']} != {self.expect['rows']}")
        drift = {f"{r.column}/{r.metric}": r.value for r in out["drift"].itertuples()}
        if drift.keys() != self.expect["drift"].keys() or any(
            abs(drift[k] - v) > 1e-9 for k, v in self.expect["drift"].items()
        ):
            errors.append(f"drift {drift} != {self.expect['drift']}")
        buckets = _bucket_report(out)
        if "buckets" not in self.expect:  # first run on this seed
            self.expect["buckets"] = buckets
            self._save_expect()
        if buckets != self.expect["buckets"]:
            errors.append("per-bucket report differs from the cached one")
        return errors


# ---------------------------------------------------------------------------
# mine_neardup
# ---------------------------------------------------------------------------


def _ngram_pairs(texts: list[str], n: int, threshold: float) -> list[list[int]]:
    """Exact word n-gram Jaccard pairs (id_a < id_b) by inverted index."""
    vocab: dict[str, int] = {}
    sets = []
    for t in texts:
        toks = t.split()
        sets.append({
            vocab.setdefault(" ".join(toks[i:i + n]), len(vocab))
            for i in range(len(toks) - n + 1)
        })
    sizes = np.array([len(s) for s in sets])
    doc = np.repeat(np.arange(len(sets)), sizes)
    sh = np.fromiter((x for s in sets for x in s), dtype=np.int64, count=len(doc))
    order = np.lexsort((doc, sh))
    sh, doc = sh[order], doc[order]
    codes = []
    for post in np.split(doc, np.flatnonzero(np.diff(sh)) + 1):
        if len(post) > 1:
            i, j = np.triu_indices(len(post), 1)
            codes.append(post[i] * len(sets) + post[j])
    if not codes:
        return []
    codes, inter = np.unique(np.concatenate(codes), return_counts=True)
    a, b = codes // len(sets), codes % len(sets)
    keep = inter / (sizes[a] + sizes[b] - inter) >= threshold
    return np.stack([a[keep], b[keep]], axis=1).tolist()


def _clusters(pairs: list[list[int]]) -> dict[int, int]:
    """Union-find over pairs: node -> smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _unit(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.float64)
    n = np.linalg.norm(v, axis=1)
    n[n == 0] = 1.0
    return v / n[:, None]


class MineNeardup(Workload):
    name = "mine_neardup"
    # the first call runs one of the seven miners; the first pass after it
    # pays for the other six warming up (about 1.7x a warm pass)
    warmup_passes = 1

    def _generate(self, d: Path) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tools.gen_sfdata_local import gen_documents, gen_embeddings

        rng = np.random.default_rng(self.seed)
        n_docs, n_vecs = self.size["docs"], self.size["vecs"]
        docs = gen_documents(rng, n_docs)
        texts = docs.column("text").to_pylist()
        flood = rng.choice(np.arange(1, n_docs), int(n_docs * FLOOD_FRAC), replace=False)
        for i in flood:
            texts[i] = texts[0]
        docs = docs.set_column(
            docs.schema.get_field_index("text"), "text", pa.array(texts)
        ).set_column(
            docs.schema.get_field_index("n_chars"), "n_chars",
            pa.array([len(t) for t in texts], type=pa.int64()),
        )
        pq.write_table(docs, d / "docs.parquet")

        emb = gen_embeddings(rng, n_vecs)
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        vflood = rng.choice(np.arange(1, n_vecs), int(n_vecs * FLOOD_FRAC), replace=False)
        near = vecs[0] + rng.normal(0.0, 0.02, (len(vflood), vecs.shape[1]))
        vecs[vflood] = (near / np.linalg.norm(near, axis=1, keepdims=True)).astype(np.float32)
        emb = emb.set_column(
            emb.schema.get_field_index("embedding"), "embedding",
            pa.array(list(vecs), type=pa.list_(pa.float32())),
        )
        pq.write_table(emb, d / "emb.parquet")
        np.save(d / "vecs.npy", vecs)

        ngram = _ngram_pairs(texts, 3, 0.5)
        g = _unit(vecs) @ _unit(vecs).T
        ii, jj = np.triu_indices(n_vecs, 1)
        cos = g[ii, jj]
        keep = np.round(cos, 6) >= COS_THRESHOLD
        # pairs whose rounded cosine sits within float noise of the
        # threshold may fall either way under another summation order
        edge = np.abs(cos - (COS_THRESHOLD - 5e-7)) < 1e-9
        return {
            "rows": n_docs + n_vecs,
            "ngram": ngram,
            "clusters": sorted(_clusters(ngram).items()),
            "flood_docs": sorted([0, *map(int, flood)]),
            "cos": np.stack([ii[keep & ~edge], jj[keep & ~edge]], axis=1).tolist(),
            "cos_edge": np.stack([ii[edge], jj[edge]], axis=1).tolist(),
        }

    def prepare(self) -> None:
        super().prepare()
        e = self.expect
        self.ngram = {tuple(p) for p in e["ngram"]}
        self.cos = {tuple(p) for p in e["cos"]}
        self.cos_edge = {tuple(p) for p in e["cos_edge"]}
        self.clusters = {a: b for a, b in e["clusters"]}
        f = e["flood_docs"]
        self.flood_pairs = {(a, b) for i, a in enumerate(f) for b in f[i + 1:]}
        self.vecs = _unit(np.load(self.inputs / "vecs.npy"))
        self.seen: dict[str, int] = {}

    def _frames(self, spark):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(str(self.inputs / "docs.parquet"))
        emb = spark.read.parquet(str(self.inputs / "emb.parquet"))
        return docs, emb, F

    def first_call(self, spark) -> list[str]:
        from pysemantic_spark.operators import similarity

        _, emb, _ = self._frames(spark)
        got = {
            (r.id_a, r.id_b)
            for r in similarity.cosine_pairs_exact(
                emb, threshold=COS_THRESHOLD, n_blocks=COS_BLOCKS
            ).collect()
        }
        return [] if got - self.cos_edge == self.cos else ["cosine_pairs_exact != exact"]

    def iteration(self, spark) -> Result:
        from pysemantic_spark.operators import dedup, similarity

        t0 = time.perf_counter()
        docs, emb, F = self._frames(spark)
        embd = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
        queries = embd.filter(F.col("vec_id") < IVF_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        ops = {
            "similarity.cosine_pairs_exact": lambda: similarity.cosine_pairs_exact(
                emb, threshold=COS_THRESHOLD, n_blocks=COS_BLOCKS),
            "similarity.embedding_near_dup_pairs": lambda: similarity.embedding_near_dup_pairs(
                emb, dim=64, threshold=COS_THRESHOLD, n_planes=8, n_tables=24,
                n_probe_bits=1),
            "similarity.ivf_topk": lambda: similarity.ivf_topk(
                embd, queries, dim=64, k=IVF_K, n_centroids=8, n_probe=3,
                sample_fraction=1.0),
            "dedup.ngram_jaccard_pairs": lambda: dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True),
            "dedup.minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", n=3, num_hashes=64, bands=32, threshold=0.5),
            "dedup.simhash_near_dup_pairs": lambda: dedup.simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=9, n_words=2, portable_hash=True),
            "dedup.duplicate_clusters": lambda: dedup.duplicate_clusters(
                docs, "doc_id", "text", n=3, threshold=0.5, algorithm="star",
                prefix_filter=True),
        }
        rows = {}
        for name, op in ops.items():
            with self.tracer.span(name):
                rows[name] = op().collect()
        wall = time.perf_counter() - t0
        return Result(self.expect["rows"], wall, wall, *self._check(rows))

    def _check(self, rows: dict) -> tuple[list[str], dict]:
        errors = []
        pairs = {
            k: {(r.id_a, r.id_b) for r in v}
            for k, v in rows.items()
            if k not in ("similarity.ivf_topk", "dedup.duplicate_clusters")
        }
        for name, v in rows.items():
            if self.seen.setdefault(name, len(v)) != len(v):
                errors.append(f"{name}: {len(v)} rows, earlier {self.seen[name]}")
        cos, lsh = pairs["similarity.cosine_pairs_exact"], pairs[
            "similarity.embedding_near_dup_pairs"]
        if cos - self.cos_edge != self.cos:
            errors.append("cosine_pairs_exact != exact cosine pairs")
        if lsh - self.cos_edge - self.cos:
            errors.append("embedding_near_dup_pairs has pairs below the threshold")
        ngram, minhash = pairs["dedup.ngram_jaccard_pairs"], pairs["dedup.minhash_lsh_pairs"]
        if ngram != self.ngram:
            errors.append("ngram_jaccard_pairs != exact ngram pairs")
        if minhash - self.ngram:
            errors.append("minhash_lsh_pairs has pairs below the threshold")
        if self.flood_pairs - pairs["dedup.simhash_near_dup_pairs"]:
            errors.append("simhash_near_dup_pairs misses identical documents")
        clusters = {r.node: r.cluster_rep for r in rows["dedup.duplicate_clusters"]}
        if clusters != self.clusters:
            errors.append("duplicate_clusters != union-find over ngram pairs")
        ivf = rows["similarity.ivf_topk"]
        if len(ivf) != IVF_QUERIES * IVF_K:
            errors.append(f"ivf_topk returned {len(ivf)} rows")
        for r in ivf:
            want = float(self.vecs[r.query_id] @ self.vecs[r.vec_id])
            if abs(r.cos_sim - want) > 2e-6:
                errors.append(f"ivf_topk cos({r.query_id},{r.vec_id}) {r.cos_sim} != {want}")
                break
        layer = {f"{k}_rows": len(v) for k, v in rows.items()}
        layer["dedup.minhash_recall"] = len(minhash & self.ngram) / max(len(self.ngram), 1)
        layer["similarity.lsh_recall"] = len(lsh & self.cos) / max(len(self.cos), 1)
        return errors, layer


WORKLOADS = {w.name: w for w in (ValidateResume, MineNeardup)}


if __name__ == "__main__":
    # python3 perfbench/workloads.py <workload> <size> <seed> <work dir>
    # generates one workload's inputs and expectations
    name, size, seed, work = sys.argv[1:]
    WORKLOADS[name](size, int(seed), Path(work), None)._make_inputs()
