"""The traced run: one extra repetition, read through Spark's status stores,
then isolated calls into each layer's public functions.

Spans (name, layer, start, end, parent) are kept in memory and written
with the layer metrics when the run ends. The root span is the entry-point
call; Spark jobs hang under it and stages under their job, timed by the
status store's submission and completion times. Each isolated call is a
root of its own. A layer's self time is its spans' durations minus the part
their children cover.
"""

from __future__ import annotations

import json
import time

from statusstore import Scope, union_s

# Which end-to-end metric each layer's metrics should move, and on which
# workload, keyed by metric-name prefix. Names and units are BENCHMARK.json's
# ``per_layer``; this table is written into every trace file beside them.
LAYER_MAP = [
    # prefix, layer (repo module or engine layer), should move, on workload
    ("sources.scan", "sources (scan)", "wall_s",
     "prepare (1 file); extract (5 tasks on 4 cores)"),
    ("sources.write", "sources.io (write)", "wall_s", "extract"),
    ("extract.", "operators.extract", "cpu_s, wall_s", "extract; absent on prepare"),
    ("functions.", "functions (page-local, 2k pages on 1 core)", "cpu_s", "extract"),
    ("printed_page.", "operators.printed_page", "wall_s", "extract"),
    ("lineage.", "operators.lineage", "-", "extract"),
    ("checkpoint.", "operators.checkpoint", "wall_s",
     "extract (the isolated resume of the skewed input)"),
    ("recipe.", "operators.recipe", "wall_s", "prepare"),
    ("langid.", "operators.langid", "cpu_s", "prepare"),
    ("repetition.", "operators.repetition", "cpu_s", "prepare"),
    ("textstats.", "operators.textstats", "cpu_s", "prepare"),
    ("webprep.", "operators.webprep", "wall_s", "prepare"),
    ("dedup.", "operators.dedup", "cpu_s, wall_s", "prepare"),
    ("xengine.", "operators.xengine", "wall_s", "prepare; extract (mode window)"),
    ("udf.", "engine: Python UDFs", "cpu_s", "prepare"),
    ("exchange.", "engine: exchange", "wall_s", "prepare; near zero on extract"),
    ("tasks.", "engine: tasks", "wall_s", "all; skew as checkpoint.max_over_median"),
    ("memory.", "engine: memory", "peak_rss_mb", "prepare"),
    ("driver.", "engine: driver", "wall_s", "prepare (many sequential sub-jobs)"),
    ("session.", "session", "setup_s", "all"),
    ("trace.", "tracing overhead", "-", "all"),
]


def layer_of(name: str) -> dict:
    for prefix, layer, moves, workload in LAYER_MAP:
        if name.startswith(prefix):
            return {"layer": layer, "moves": moves, "workload": workload}
    return {}


class Spans:
    def __init__(self):
        self.items: list[dict] = []

    def add(self, name, layer, start_ms, end_ms, parent=None) -> int:
        self.items.append({"id": len(self.items), "name": name, "layer": layer,
                           "start_ms": start_ms, "end_ms": end_ms, "parent": parent})
        return len(self.items) - 1

    def add_call(self, name: str, layer: str, t0: float, t1: float, col) -> int:
        root = self.add(name, layer, t0 * 1e3, t1 * 1e3)
        job_of = {}
        for j in col.jobs:
            jid = self.add(f"job {j['id']}: {j['name'][:80]}", "engine.job",
                           j["start_ms"], j["end_ms"], root)
            for sid in j["stage_ids"]:
                job_of.setdefault(sid, jid)
        for s in col.stages:
            self.add(f"stage {s['id']}: {s['name'][:80]}", "engine.stage",
                     s["start_ms"], s["end_ms"], job_of.get(s["id"], root))
        return root

    def self_times(self) -> dict[str, float]:
        kids: dict[int, list[dict]] = {}
        for sp in self.items:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        out: dict[str, float] = {}
        for sp in self.items:
            a, b = sp["start_ms"], sp["end_ms"]
            if a is None or b is None:
                continue
            covered = union_s(
                (max(a, k["start_ms"]), min(b, k["end_ms"]))
                for k in kids.get(sp["id"], ())
                if k["start_ms"] is not None and k["end_ms"] is not None
                and k["start_ms"] < b and k["end_ms"] > a
            )
            out[sp["layer"]] = out.get(sp["layer"], 0.0) + max(0.0, (b - a) / 1e3 - covered)
        return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans = Spans()

    def call(self, name: str, layer: str, fn):
        """(result, wall seconds, collected status) of one isolated call."""
        scope = Scope(self.spark)
        t0 = time.time()
        out = fn()
        t1 = time.time()
        col = scope.collect()
        self.spans.add_call(name, layer, t0, t1, col)
        return out, t1 - t0, col

    def timed(self, name: str, layer: str, fn) -> float:
        return self.call(name, layer, fn)[1]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def functions_baseline(pages_dir: str, n: int = 2000) -> dict[str, float]:
    """Single-core driver loop over a fixed sample of the input's pages:
    each public page-local function timed on its own, then the whole
    page-local path (pages/s on one core)."""
    import pyarrow.parquet as pq

    from ocr_obsidian_spark.config import DEFAULT_CONFIG as cfg
    from ocr_obsidian_spark.functions.geometry import admit_word, group_lines
    from ocr_obsidian_spark.functions.qa import compute_text_metrics, is_garbage_page
    from ocr_obsidian_spark.functions.romans import detect_printed_page, infer_scan_side
    from ocr_obsidian_spark.functions.textclean import render_page_text, render_raw_text
    from ocr_obsidian_spark.operators.extract import _extract_one, parse_url_book_page
    from ocr_obsidian_spark.sources.fixtures import parse_page_payload

    t = pq.read_table(pages_dir, columns=["url", "html"]).sort_by("url").slice(0, n)
    sample = list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    acc = dict.fromkeys(("parse", "group_lines", "render", "qa", "printed_page"), 0.0)
    clock = time.perf_counter
    for url, html in sample:
        t0 = clock()
        payload = parse_page_payload(html)
        t1 = clock()
        words = []
        for w in payload["words"]:
            b = [int(v) for v in w["b"]]
            if admit_word(w["t"], w["c"], b[2] - b[0], b[3] - b[1]):
                words.append({"text": str(w["t"]).strip(), "bbox": b,
                              "confidence": float(w["c"])})
        t2 = clock()
        lines = group_lines(words, parse_url_book_page(url)[1], cfg.line_y_tolerance_px)
        t3 = clock()
        render_raw_text(lines)
        render_page_text(lines)
        t4 = clock()
        is_garbage_page(compute_text_metrics(lines, trusted_line_text=True), cfg.qa)
        t5 = clock()
        pp = cfg.printed_page
        detect_printed_page(
            words, lines, page_width=int(payload["page_width"]),
            page_height=int(payload["page_height"]), top_band_frac=pp.top_band_frac,
            min_conf=pp.min_conf, roman_min_len=pp.roman_min_len,
            roman_max_value=pp.roman_max_value,
            side=infer_scan_side(str(payload["scan_relpath"])),
            max_top_lines=pp.max_top_lines,
        )
        t6 = clock()
        for k, dt in zip(acc, (t1 - t0, t3 - t2, t4 - t3, t5 - t4, t6 - t5)):
            acc[k] += dt
    t0 = clock()
    for url, html in sample:
        _extract_one(url, html, cfg)
    whole = clock() - t0
    return {
        "functions.parse_s": acc["parse"],
        "functions.group_lines_s": acc["group_lines"],
        "functions.render_page_text_s": acc["render"],
        "functions.qa_s": acc["qa"],
        "functions.printed_page_s": acc["printed_page"],
        "functions.pages_per_s_1core": len(sample) / whole,
    }


def extract_layers(tr: Tracer, bench, e2e: dict, traced: dict) -> dict[str, float]:
    import inputs
    import workloads
    from inputs import RESUME_RUN_ID
    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.operators.checkpoint import completed_buckets
    from ocr_obsidian_spark.operators.extract import extract_pages_with_lineage
    from ocr_obsidian_spark.operators.printed_page import (
        apply_printed_page_mode, roman_null_set,
    )

    spark, wl = tr.spark, bench.wl
    out = {"lineage.rows": traced["outcome"]["lineage_rows"]}
    tasks = traced["layers"]["sources.scan_tasks"]
    if out["lineage.rows"] != tasks:
        bench.problems.append(f"lineage rows {out['lineage.rows']} != extract tasks {tasks}")
    if tasks % bench.cores == 0:
        bench.problems.append(
            f"the scan packs into {tasks} tasks for {bench.cores} cores: "
            "the input no longer exposes an uneven last wave")
    t0 = time.time()
    out.update(functions_baseline(wl.pages))
    tr.spans.add("functions baseline (2k pages, 1 core)", "functions", t0 * 1e3, time.time() * 1e3)
    out["extract.parallel_eff"] = e2e["rows_per_s"] / (
        bench.cores * out["functions.pages_per_s_1core"])
    out["extract.map_s"] = tr.timed("extract_pages_with_lineage", "operators.extract", lambda: noop(
        extract_pages_with_lineage(spark.read.parquet(wl.pages), DEFAULT_CONFIG,
                                   run_id="perfbench-isolated")))
    corpus = spark.read.parquet(f"{wl.out}/corpus")
    _, out["printed_page.mode_s"], col = tr.call(
        "apply_printed_page_mode", "operators.printed_page",
        lambda: noop(apply_printed_page_mode(corpus)))
    out["printed_page.shuffle_bytes"] = col.stage_sum("shuffle_write_bytes")
    out["printed_page.null_urls"] = roman_null_set(corpus).count()

    # the checkpoint layer: resume the skewed input's pending half once
    rs = workloads.ResumeSkew(inputs.ensure("resume_skew", bench.variant, bench.env),
                              bench.work, bench.master)
    rs.before_rep()
    pending = rs.n_buckets - len(completed_buckets(spark, rs.out, RESUME_RUN_ID))
    info, wall, col = tr.call("run_resumable", "operators.checkpoint", lambda: rs.call(spark))
    got = rs.outcome(info)
    pinned = bench.all_pinned.get("resume_skew", {}).get(str(bench.variant))
    bench.problems += [f"resume: {p}" for p in rs.problems(got, pinned)]
    write = max((e for e in col.executions if any(
        n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand") for n in e["nodes"])),
        key=lambda e: e["end_ms"] - e["start_ms"], default=None)
    skew, straggler = col.task_skew()
    out.update({
        "checkpoint.resume_s": wall,
        "checkpoint.overhead_s": wall - ((write["end_ms"] - write["start_ms"]) / 1e3
                                         if write else 0.0),
        "checkpoint.jobs": len(col.jobs),
        "checkpoint.pending_buckets": pending,
        "checkpoint.committed_buckets": info["committed"],
        "checkpoint.max_over_median": skew,
        "checkpoint.straggler_s": straggler,
    })
    return out


def prepare_layers(tr: Tracer, bench, e2e: dict, traced: dict) -> dict[str, float]:
    from ocr_obsidian_spark.operators.dedup import (
        drop_exact_duplicates, minhash_lsh_candidate_pairs, ngram_jaccard_pairs,
    )
    from ocr_obsidian_spark.operators.langid import with_language
    from ocr_obsidian_spark.operators.recipe import gate_documents
    from ocr_obsidian_spark.operators.repetition import with_gopher_repetition
    from ocr_obsidian_spark.operators.textstats import with_gopher_flags
    from ocr_obsidian_spark.operators.webprep import (
        drop_duplicated_lines, drop_url_duplicates, scrub_pii,
    )
    from ocr_obsidian_spark.operators.xengine import truncate_lineage

    spark = tr.spark
    docs = spark.read.parquet(bench.wl.docs)
    out = {f"recipe.rows.{k}": v for k, v in traced["outcome"]["stages"].items()}
    calls = [
        ("recipe.gates_s", "operators.recipe", lambda: noop(gate_documents(docs))),
        ("langid.s", "operators.langid", lambda: noop(with_language(docs))),
        ("repetition.s", "operators.repetition",
         lambda: noop(with_gopher_repetition(docs, "text"))),
        ("textstats.gopher_s", "operators.textstats",
         lambda: noop(with_gopher_flags(docs, "text"))),
        ("webprep.url_dedup_s", "operators.webprep", lambda: noop(drop_url_duplicates(docs))),
        ("webprep.line_dedup_s", "operators.webprep",
         lambda: noop(drop_duplicated_lines(docs.select("doc_id", "text")))),
        ("webprep.pii_s", "operators.webprep", lambda: noop(scrub_pii(docs))),
        ("dedup.exact_s", "operators.dedup", lambda: noop(drop_exact_duplicates(docs))),
    ]
    for name, layer, fn in calls:
        out[name] = tr.timed(name, layer, fn)
    cands, out["dedup.minhash_candidates_s"], _ = tr.call(
        "dedup.minhash_candidates_s", "operators.dedup",
        lambda: truncate_lineage(minhash_lsh_candidate_pairs(docs, "text", "doc_id")))
    pairs, out["dedup.jaccard_verify_s"], _ = tr.call(
        "dedup.jaccard_verify_s", "operators.dedup",
        lambda: truncate_lineage(ngram_jaccard_pairs(docs, "text", "doc_id",
                                                     candidate_pairs=cands)))
    out["dedup.candidate_pairs"] = cands.count()
    out["dedup.verified_pairs"] = pairs.count()
    out["dedup.lsh_precision"] = (
        out["dedup.verified_pairs"] / out["dedup.candidate_pairs"]
        if out["dedup.candidate_pairs"] else 0.0)
    return out


WORKLOAD_LAYERS = {"extract": extract_layers, "prepare": prepare_layers}


def traced_run(bench, e2e: dict, host: dict, out_path, per_layer: list[dict]) -> dict[str, dict]:
    """Run the traced repetition and the isolated calls; write the trace
    file; return every metric of ``per_layer`` as {name: {value, unit}} (0
    where a layer does not apply to this workload)."""
    tr = Tracer(bench.spark)
    scope = Scope(bench.spark)
    s = bench._one()
    col = scope.collect()
    if not s["ok"]:
        bench.problems += [f"traced run: {p}" for p in s["problems"]]
    tr.spans.add_call(f"{bench.wl.name} entry point", "entry", s.get("t_start", 0.0),
                      s.get("t_start", 0.0) + s.get("wall_s", 0.0), col)
    s["layers"] = col.engine_layers(s.get("wall_s", 0.0))
    values = dict(s["layers"])
    values.update({
        "session.start_s": bench.setup["start_s"],
        "session.warmup_s": bench.setup["wall_s"] - e2e["wall_s"],
        "trace.overhead_s": s.get("wall_s", 0.0) - e2e["wall_s"],
    })
    extra = WORKLOAD_LAYERS.get(bench.wl.name)
    if extra is not None and s["ok"]:
        values.update(extra(tr, bench, e2e, s))
    absent = [m["name"] for m in per_layer if m["name"] not in values]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in per_layer}
    out_path.write_text(json.dumps({
        "workload": bench.wl.name, "seed": bench.seed, "host": host,
        "e2e_untraced": e2e, "traced_wall_s": s.get("wall_s"),
        "metrics": metrics, "absent_on_this_workload": absent,
        "layer_map": [{**m, **layer_of(m["name"])} for m in per_layer],
        "self_time_s": tr.spans.self_times(), "spans": tr.spans.items,
        "problems": bench.problems,
    }, indent=1, default=str))
    return metrics
