"""The workloads: set-up, one closed-loop pass, output check, and the
per-layer metrics of a traced run.

A pass issues one Spark action at a time through ``Ctx.action``, each a
noop-sink write of one layer's public function, so every column is
materialized and nothing is collected. ``Ctx`` wraps each action in a span
named after the layer function and, when tracing, reads Spark's SQL
metrics for it.
"""

from __future__ import annotations

import math
import statistics
import time

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F

from photohive_spark import (dedup, engine, fast_hash, multimodal, pit,
                             sketch, text, tokenize)
from photohive_spark.config import DEFAULT_CONFIG as CFG

from . import inputs
from .trace import SqlMetrics, Tracer, merge, node_sum, peak_mb, task_skew

MB = float(2**20)
PY_NODES = ("MapInArrow", "MapInPandas")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """Per-run state a pass needs: the tracer, whether this pass is traced,
    the SQL metrics reader and the per-action metric samples of traced
    passes."""

    def __init__(self, tracer: Tracer):
        self.tr = tracer
        self.traced = False
        self.sqlm: SqlMetrics | None = None
        self.samples: dict[str, list[dict]] = {}

    def action(self, name: str, build) -> None:
        with self.tr.span(name):
            noop(build())
        if self.traced:
            self.samples.setdefault(name, []).append(self.sqlm.collect())

    def metrics(self, *names: str) -> dict:
        return merge([s for n in names for s in self.samples.get(n, [])])

    def passes(self, name: str) -> int:
        return max(1, len(self.samples.get(name, [])))

    def median_s(self, name: str) -> float:
        d = self.tr.durations(name)
        return statistics.median(d) if d else 0.0


def _close(a, b, rtol=1e-9, atol=1e-12) -> bool:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol,
                                                   atol=atol))


def _single_thread_s(fn, *args) -> float:
    """Wall seconds of one call after one warm call."""
    fn(*args)
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


class Workload:
    name = ""
    rows = 0                   # input rows one pass processes

    def setup(self, spark, seed: int, path: str) -> None:
        raise NotImplementedError

    def run_pass(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def check(self) -> tuple[int, int, dict]:
        """The check, run untimed before the timed passes: the pass's
        actions with sinks that bring the outputs (or digests of them) to the
        driver, then the comparisons against the driver-side truth.
        -> (rows checked, rows failed, facts to report)."""
        raise NotImplementedError

    def layers(self, ctx: Ctx) -> dict[str, float]:
        raise NotImplementedError

    def inputs(self) -> list:
        """The DataFrames the pass scans."""
        raise NotImplementedError


class Composite(Workload):
    """A workload made of parts: set-up, pass, check and layer metrics run
    part by part, and rows are the parts' input rows summed."""

    def __init__(self, name: str, *parts: Workload):
        self.name, self.parts = name, parts

    def setup(self, spark, seed, path):
        for p in self.parts:
            p.setup(spark, seed, f"{path}/{p.name}")
        self.props = {p.name: p.props for p in self.parts}
        self.rows = sum(p.rows for p in self.parts)

    def run_pass(self, ctx):
        for p in self.parts:
            p.run_pass(ctx)

    def check(self):
        n = failed = 0
        facts = {}
        for p in self.parts:
            rows, bad, facts[p.name] = p.check()
            n, failed = n + rows, failed + bad
        return n, failed, facts

    def layers(self, ctx):
        out = {}
        for p in self.parts:
            out.update(p.layers(ctx))
        out.update(scan_layers(ctx, [df for p in self.parts
                                     for df in p.inputs()]))
        return out


def scan_layers(ctx: Ctx, dfs: list) -> dict[str, float]:
    """Scan split (partitions of every input) and the parquet scans' time
    and bytes per traced pass."""
    m = ctx.metrics(*ctx.samples)
    n = max(len(v) for v in ctx.samples.values())
    return {
        "session.scan_tasks": float(sum(
            df._jdf.rdd().getNumPartitions() for df in dfs)),
        "session.scan_s": node_sum(m, "Scan parquet", "scan time") / n,
        "session.scan_mb": node_sum(m, "Scan parquet",
                                    "size of files read") / MB / n,
    }


def _python_layers(m: dict, n: int) -> dict[str, float]:
    def s(metric):
        return sum(node_sum(m, p, metric) for p in PY_NODES) / n
    return {"bytes_in_mb": s("data sent to Python workers") / MB,
            "bytes_out_mb": s("data returned from Python workers") / MB,
            "init_s": s("time to initialize Python workers"),
            "run_s": s("time to run Python workers")}


def _shuffle(m: dict, n: int, metric: str) -> float:
    return node_sum(m, "Exchange", metric) / n


# ---------------------------------------------------------------- features

class Features(Workload):
    """Long-tailed token docs through engine.extract_features_df: the DSP
    kernel and the mapInArrow boundary do the work, no shuffle."""
    name = "features"

    def setup(self, spark, seed, path):
        self.seed = seed
        self.table, self.props = inputs.features_input(seed)
        self.props.update(inputs.write_parquet(
            self.table, path, inputs.FEATURES_FILES, 375))
        self.df = spark.read.parquet(path)
        self.rows = self.table.num_rows
        self.stage_accs = engine.kernel_stage_accumulators(spark)

    def inputs(self):
        return [self.df]

    def run_pass(self, ctx):
        # the advisory kernel-stage accumulators ride on traced passes only
        accs = self.stage_accs if ctx.traced else None
        ctx.action("engine.extract_features_df",
                   lambda: engine.extract_features_df(self.df,
                                                      stage_accs=accs))

    def check(self):
        n = self.rows
        rng = np.random.default_rng([self.seed, 11])
        lens = self.table["n_tok"].to_numpy()
        pick = set(rng.choice(n, 10, replace=False).tolist())
        pick |= {int(lens.argmax()), int(lens.argmin())}
        ids = {self.table["doc_id"][i].as_py(): i for i in pick}
        names = [f.name for f in engine.FEATURE_FIELDS]

        out = engine.extract_features_df(self.df)
        inp = self.df.select("doc_id", F.xxhash64("tokens").alias("h_in"))
        o = out.select("doc_id", F.xxhash64("tokens").alias("h_out"),
                       F.when(F.col("doc_id").isin(list(ids)),
                              F.struct("doc_id", *names)).alias("f"))
        j = inp.join(o, "doc_id", "full_outer")
        bad = (F.col("h_in").isNull() | F.col("h_out").isNull()
               | (F.col("h_in") != F.col("h_out")))
        r = j.agg(F.count("h_out").alias("n_out"),
                  F.sum(bad.cast("long")).alias("bad"),
                  F.collect_list("f").alias("f")).collect()[0]
        failed = int(r["bad"] or 0) + max(0, r["n_out"] - n)
        seen = set()
        for f in r["f"]:
            i = ids[f["doc_id"]]
            seen.add(i)
            toks = np.asarray(self.table["tokens"][i].values.to_numpy(),
                              dtype=np.int32)
            if not _features_equal(f, engine.features_row(toks, CFG)):
                failed += 1
        failed += len(pick - seen)
        return n, failed, {"sampled_rows": len(pick)}

    def layers(self, ctx):
        name = "engine.extract_features_df"
        m, n = ctx.metrics(name), ctx.passes(name)
        py = _python_layers(m, n)
        skews = [task_skew(s) for s in ctx.samples[name]]
        out = {"engine.python_bytes_in_mb": py["bytes_in_mb"],
               "engine.python_bytes_out_mb": py["bytes_out_mb"],
               "engine.python_init_s": py["init_s"],
               "engine.python_run_s": py["run_s"],
               "engine.task_skew": statistics.median(skews)}
        out.update(self._kernel_layers(n))
        return out

    def _kernel_layers(self, n_passes: int) -> dict[str, float]:
        """Single-threaded batch_extract_arrow on the first scan task's
        rows as one Arrow batch (the batch a worker sees), plus the
        advisory kernel-stage accumulators of the traced passes."""
        from photohive_spark.batch_kernels import batch_extract_arrow
        tasks = self.df._jdf.rdd().getNumPartitions()
        batch = min(CFG.arrow_batch_rows, math.ceil(self.rows / tasks))
        toks = self.table["tokens"].slice(0, batch).combine_chunks()
        secs = _single_thread_s(batch_extract_arrow, toks)
        lens = self.table["n_tok"].to_numpy()
        out = {"batch_kernels.core_s_per_krow": secs / batch * 1000,
               "batch_kernels.rows_per_length_group":
                   inputs.rows_per_length_group(lens, batch)}
        for stage, acc in self.stage_accs.items():
            out[f"batch_kernels.stage.{stage.removesuffix('_s')}_core_s"] = \
                acc.value / n_passes
        return out


def _features_equal(got, want: dict) -> bool:
    """The repo's batch-vs-per-doc parity bounds: exact integers and peaks,
    rtol 1e-9 floats, rtol 1e-7 bandpass (FFT vs direct convolution)."""
    if list(got["hist_counts"]) != want["hist_counts"]:
        return False
    if [(p["angle"], p["magnitude"]) for p in got["spectral_peaks"]] != \
            [(p["angle"], p["magnitude"]) for p in want["spectral_peaks"]]:
        return False
    for k in ("rms_mean", "rms_std", "mean_norm_value", "hist_entropy",
              "sharpness_avg", "spectrum_bands", "autocorr", "sharpness"):
        if not _close(got[k], want[k]):
            return False
    if not _close(got["bandpass_energy"], want["bandpass_energy"], 1e-7):
        return False
    pal = [(p["h"], p["s"], p["v"], p["pct"]) for p in got["palette"]]
    want_pal = [(p["h"], p["s"], p["v"], p["pct"]) for p in want["palette"]]
    return _close(pal, want_pal)


# ---------------------------------------------------------------- pit_asof

class PitAsof(Workload):
    """Zipf-keyed probes as-of joined to wide feature snapshots, then
    sessionize and lag/lead: shuffle, sort and window, no Python."""
    name = "pit_asof"
    KEY, PTS, STS = "entity", "probe_ts", "snapshot_ts"

    def setup(self, spark, seed, path):
        self.seed = seed
        self.probes_t, self.snaps_t, self.props = inputs.pit_input(seed)
        p = inputs.write_parquet(self.probes_t, f"{path}/probes", 8, 2500)
        s = inputs.write_parquet(self.snaps_t, f"{path}/snapshots", 8, 250)
        self.props.update({k: p[k] + s[k] for k in p})
        self.probes = spark.read.parquet(f"{path}/probes")
        self.snaps = spark.read.parquet(f"{path}/snapshots")
        self.rows = self.probes_t.num_rows

    def inputs(self):
        return [self.probes, self.snaps]

    def _asof(self):
        return pit.asof_join(self.probes, self.snaps, self.KEY, self.PTS,
                             self.STS, ["fvec"])

    def run_pass(self, ctx):
        ctx.action("pit.asof_join", self._asof)
        ctx.action("pit.sessionize",
                   lambda: pit.sessionize(self.probes, self.KEY, self.PTS))
        ctx.action("pit.lag_lead",
                   lambda: pit.lag_lead(self.probes, self.KEY, self.PTS,
                                        "label"))

    def check(self):
        n = self.rows
        rng = np.random.default_rng([self.seed, 12])
        keys = self.probes_t["entity"].to_numpy()
        hot = np.flatnonzero(keys == np.bincount(keys).argmax())
        pick = sorted(set(rng.choice(n, 24, replace=False).tolist())
                      | set(rng.choice(hot, 8, replace=False).tolist()))

        joined = self._asof()
        # one action: the audit, the distinct probe count and the sampled
        # rows share the as-of join's exchange
        sample = joined.agg(
            F.countDistinct("probe_id").alias("n_distinct"),
            F.collect_list(F.when(F.col("probe_id").isin(pick), F.struct(
                "probe_id",
                F.unix_micros(F.col("matched_ts")).alias("mts"),
                "fvec"))).alias("rows"))
        audit = pit.leakage_audit(joined, self.PTS, "matched_ts")
        a = audit.crossJoin(sample).collect()[0]
        # a lost probe shows as n - distinct, a duplicated one as
        # n_rows - distinct
        distinct = int(a["n_distinct"])
        failed = (int(a["n_leaks"]) + abs(n - distinct)
                  + int(a["n_rows"]) - distinct)
        want = inputs.asof_expected(self.probes_t, self.snaps_t, pick)
        got = {r["probe_id"]: r for r in a["rows"]}
        s_ts = self.snaps_t["snapshot_ts"].cast(pa.int64()).to_numpy()
        for pid in pick:
            r, w = got.get(pid), want[pid]
            if r is None:
                ok = False
            elif w is None:
                ok = r["mts"] is None and r["fvec"] is None
            else:
                ok = (r["mts"] == s_ts[w] and r["fvec"] is not None
                      and np.array_equal(
                          r["fvec"], self.snaps_t["fvec"][w].as_py()))
            failed += not ok
        return n, failed, {"leaks": int(a["n_leaks"]),
                           "sampled_rows": len(pick)}

    def layers(self, ctx):
        names = ("pit.asof_join", "pit.sessionize", "pit.lag_lead")
        m, n = ctx.metrics(*names), ctx.passes(names[0])
        out = {"pit.action_s.asof": ctx.median_s("pit.asof_join"),
               "pit.action_s.sessionize": ctx.median_s("pit.sessionize"),
               "pit.action_s.lag_lead": ctx.median_s("pit.lag_lead"),
               "pit.shuffle_records": _shuffle(m, n,
                                               "shuffle records written"),
               "pit.shuffle_mb": _shuffle(m, n, "shuffle bytes written") / MB,
               "pit.shuffle_write_s": _shuffle(m, n, "shuffle write time"),
               "pit.spill_mb": node_sum(m, "", "spill size") / MB / n,
               "pit.task_skew": statistics.median(
                   task_skew(s) for s in ctx.samples["pit.asof_join"])}
        return out


# ------------------------------------------------------------------ curate

class Curate(Workload):
    """Zipf-vocabulary docs with planted exact and near duplicates through
    dedup, text, tokenize and sketch: strings into Python, map-side
    aggregates and a self-join."""
    name = "curate"

    def setup(self, spark, seed, path):
        self.seed = seed
        self.table, self.truth, self.props = inputs.curate_input(seed)
        self.props.update(inputs.write_parquet(self.table, path, 8, 1000))
        self.docs = spark.read.parquet(path)
        self.rows = self.table.num_rows

    def inputs(self):
        return [self.docs]

    def run_pass(self, ctx):
        d = self.docs
        ctx.action("dedup.exact_dedup", lambda: dedup.exact_dedup(d))
        ctx.action("dedup.minhash_lsh_pairs",
                   lambda: dedup.minhash_lsh_pairs(d))
        ctx.action("text.repetition_stats", lambda: text.repetition_stats(d))
        ctx.action("text.quality_score", lambda: text.quality_score(d))
        ctx.action("text.unigram_logprob", lambda: text.unigram_logprob(
            tokenize.tokens_from_documents(d)))
        ctx.action("sketch.countmin", lambda: sketch.countmin(
            tokenize.tokens_from_documents(d)))

    def check(self):
        n, d, t = self.rows, self.docs, self.truth
        dups = dedup.exact_dedup(d).where("dup_count > 1").collect()
        pairs = dedup.minhash_lsh_pairs(d).collect()
        toks = tokenize.tokens_from_documents(d)
        outs = {"repetition": text.repetition_stats(d),
                "quality": text.quality_score(d),
                "unigram": text.unigram_logprob(toks)}
        # one action for the three per-doc outputs; the column digest
        # keeps every output column computed
        per_doc = None
        for key, df in outs.items():
            df = df.select(F.lit(key).alias("out"), "doc_id",
                           F.xxhash64(*df.columns).alias("h"))
            per_doc = df if per_doc is None else per_doc.unionByName(df)
        counts = per_doc.groupBy("out").agg(
            F.count("*").alias("rows"),
            F.countDistinct("doc_id").alias("ids"),
            F.bit_xor("h").alias("digest")).collect()
        cms = sketch.countmin(toks).groupBy("d").agg(
            F.sum("cnt").alias("s")).collect()
        counts = {r["out"]: r for r in counts}

        failed = 0
        got = {r["doc_id"]: r["dup_count"] for r in dups}
        for k in set(got) | set(t["dup_groups"]):
            if got.get(k) != t["dup_groups"].get(k):
                failed += max(got.get(k, 0), t["dup_groups"].get(k, 0))
        texts = t["texts"]
        keys, bad_pairs = set(), []
        for r in pairs:
            key = (r["id_a"], r["id_b"])
            j = inputs.jaccard(texts[key[0]], texts[key[1]])
            # the output is rounded to 6 decimals, half-up
            if key in keys or key[0] >= key[1] or j < 0.5 \
                    or abs(r["jaccard"] - j) > 5e-7 + 1e-12:
                failed += 2
                bad_pairs.append([key[0], key[1], r["jaccard"], j])
            keys.add(key)
        planted = [(a, b) for a, b, j in t["near_pairs"] if j >= 0.5]
        recall = (sum((a, b) in keys for a, b in planted) / len(planted)
                  if planted else 1.0)

        nw = t["n_words"]
        expect = {"repetition": int((nw >= 2).sum()), "quality": n,
                  "unigram": int((nw >= 1).sum())}
        for key, want in expect.items():
            r = counts.get(key, {"rows": 0, "ids": 0})
            failed += abs(r["rows"] - want) + (r["rows"] - r["ids"])
        # every CountMin row sums to the token count
        if sorted(r["s"] for r in cms) != [int(nw.sum())] * sketch.CMS_DEPTH:
            failed += n
        self.verified_pairs = len(pairs)
        return n, failed, {"verified_pairs": len(pairs),
                           "bad_pairs": bad_pairs[:5],
                           "near_dup_pairs_planted": len(planted),
                           "near_dup_recall": recall}

    def layers(self, ctx):
        dd = ("dedup.exact_dedup", "dedup.minhash_lsh_pairs")
        tx = ("text.repetition_stats", "text.quality_score",
              "text.unigram_logprob")
        sk = ("sketch.countmin",)
        n = ctx.passes(dd[0])
        py = _python_layers(ctx.metrics(*dd, *tx, *sk), n)
        texts = self.table["text"].combine_chunks()
        tok_s = _single_thread_s(fast_hash.tokenize_arrow_batch, texts)
        out = {
            "fast_hash.python_run_s": py["run_s"],
            "fast_hash.python_bytes_out_mb": py["bytes_out_mb"],
            "tokenize.core_s_per_kdoc": tok_s / self.rows * 1000,
            "dedup.action_s.exact": ctx.median_s(dd[0]),
            "dedup.action_s.minhash": ctx.median_s(dd[1]),
            "dedup.shuffle_records": _shuffle(ctx.metrics(*dd), n,
                                              "shuffle records written"),
            "dedup.verified_pairs": float(self.verified_pairs),
            "text.action_s.repetition": ctx.median_s(tx[0]),
            "text.action_s.quality": ctx.median_s(tx[1]),
            "text.action_s.unigram": ctx.median_s(tx[2]),
            "text.shuffle_records": _shuffle(ctx.metrics(*tx), n,
                                             "shuffle records written"),
            "sketch.action_s.countmin": ctx.median_s(sk[0]),
            "sketch.shuffle_records": _shuffle(ctx.metrics(*sk), n,
                                               "shuffle records written"),
        }
        return out


# ------------------------------------------------------------------ images

class Images(Workload):
    """Mixed PNG/JPEG/GIF corpus through multimodal.image_report: the only
    workload for the codecs and the 2-D report kernel."""
    name = "images"

    def setup(self, spark, seed, path):
        self.seed = seed
        self.table, self.corpus, self.props = inputs.images_input(seed)
        self.props.update(inputs.write_parquet(
            self.table, path, inputs.IMAGE_FILES, inputs.IMAGE_DISTINCT))
        self.media = spark.read.parquet(path)
        self.rows = self.table.num_rows

    def inputs(self):
        return [self.media]

    def run_pass(self, ctx):
        ctx.action("multimodal.image_report",
                   lambda: multimodal.image_report(self.media, mode="real"))

    def check(self):
        from photohive_spark import png
        n = self.rows
        rows = multimodal.image_report(self.media, mode="real").collect()
        got = {r["media_id"]: r for r in rows}
        failed = n - len(got) + (len(rows) - len(got))
        rng = np.random.default_rng([self.seed, 14])
        slots = rng.choice(inputs.IMAGE_DISTINCT, 3, replace=False)
        checked = 0
        for slot in slots:
            _, payload, _, _ = self.corpus[slot]
            p = png.decode_image_rgb(payload)
            want = multimodal.report_image_arrays(p["r"], p["g"], p["b"], CFG)
            for j in range(slot, n, inputs.IMAGE_DISTINCT):
                r = got.get(f"m-{j:04d}")
                checked += 1
                failed += r is None or not _report_equal(r, want)
        return n, failed, {"sampled_rows": checked}

    def layers(self, ctx):
        name = "multimodal.image_report"
        m, n = ctx.metrics(name), ctx.passes(name)
        py = _python_layers(m, n)
        out = {"multimodal.python_init_s": py["init_s"],
               "multimodal.python_run_s": py["run_s"]}
        out.update(codec_layers(self.corpus))
        return out


def _report_equal(got, want: dict) -> bool:
    if (got["height"], got["width"]) != (want["height"], want["width"]):
        return False
    for k in ("rms_mean", "rms_std", "mean_norm_value", "hist_entropy",
              "sharpness_avg", "sharpness_var", "palette", "spectral_peaks"):
        if not _close(got[k], want[k]):
            return False
    return True


CODEC_LAYERS = {"png": "png", "jpeg_baseline": "jpeg_decode.baseline",
                "jpeg_progressive": "jpeg_decode.progressive", "gif": "gif"}


def _decoder(kind: str):
    """The codec module's own decode function for a corpus codec."""
    from photohive_spark import gif, jpeg_decode, png
    return {"png": png.decode_png, "jpeg_baseline": jpeg_decode.decode_jpeg,
            "jpeg_progressive": jpeg_decode.decode_jpeg,
            "gif": gif.decode_gif}[kind]


def decode_peak_mb(kind: str, payload: bytes) -> float:
    """Peak MB of one decode. Run it in a fresh process, so that no memory
    freed by earlier work hides the allocation."""
    return peak_mb(_decoder(kind), payload)


def codec_layers(corpus) -> dict[str, float]:
    """Single-threaded decode seconds per megapixel over the corpus for
    each codec; peak decode memory per megapixel of each codec's largest
    image, each in a fresh spawned process; and the report kernel's
    seconds per megapixel on the decoded planes."""
    import multiprocessing

    from photohive_spark import png
    secs: dict[str, float] = {}
    mps: dict[str, float] = {}
    largest: dict[str, tuple] = {}
    report_s = report_mp = 0.0
    for kind, payload, h, w in corpus:
        mp = h * w / 1e6
        t0 = time.perf_counter()
        _decoder(kind)(payload)
        secs[kind] = secs.get(kind, 0.0) + time.perf_counter() - t0
        mps[kind] = mps.get(kind, 0.0) + mp
        if mp > largest.get(kind, (None, 0.0))[1]:
            largest[kind] = (payload, mp)
        p = png.decode_image_rgb(payload)
        t0 = time.perf_counter()
        multimodal.report_image_arrays(p["r"], p["g"], p["b"], CFG)
        report_s += time.perf_counter() - t0
        report_mp += mp
    kinds = list(CODEC_LAYERS)
    spawn = multiprocessing.get_context("spawn")
    with spawn.Pool(1, maxtasksperchild=1) as pool:
        peaks = pool.starmap(decode_peak_mb,
                             [(k, largest[k][0]) for k in kinds])
        pool.close()
        pool.join()
    out = {}
    for kind, peak in zip(kinds, peaks):
        layer = CODEC_LAYERS[kind]
        out[f"{layer}.decode_s_per_mp"] = secs[kind] / mps[kind]
        out[f"{layer}.peak_alloc_mb_per_mp"] = peak / largest[kind][1]
    out["multimodal.report_s_per_mp"] = report_s / report_mp
    return out


# Two workloads, split by the kind of work: "extract" is the DSP feature
# kernels over tokens and images (Python-bound, no shuffle); "relational"
# is the point-in-time layer and the curation operators (shuffles, joins,
# windows, map-side aggregates).
WORKLOADS = {
    "extract": lambda: Composite("extract", Features(), Images()),
    "relational": lambda: Composite("relational", PitAsof(), Curate()),
}
