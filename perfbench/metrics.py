"""End-to-end and per-layer metrics, computed from a run's spans.

End-to-end (``--trace 0``): the result line carries ``setup_s`` and
``cpu_s`` (CPU seconds of one measured pass), which every workload has;
other work on the host moves CPU time far less than wall time. The
``report`` line adds the wall-clock ones: ``wall_s`` and
``pagerank_edges_per_s`` on every workload, ``ingest_rows_per_s`` (corpus
rows / ``build_graph`` time) on ``score``, ``refresh_s``, ``query_p50_ms``
and ``query_tail_ms`` on ``refresh``; and ``failed_share``.

Per-layer (``--trace 1``): every layer metric is reported by every
workload; a layer the workload does not call reports 0.
"""

from __future__ import annotations

from perfbench.stats import median, tail


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _pass_spans(ctx, name: str) -> list[list]:
    """Completed calls named ``name``, grouped by the measured pass that
    holds them. A call that raised has no result attributes; it counts in
    ``failed_share`` only."""
    passes = {s.span_id: [] for s in ctx.tracer.spans if s.name == "pass"}
    for s in ctx.tracer.spans:
        if s.name == name and s.parent in passes and s.attrs.get("ok"):
            passes[s.parent].append(s)
    return list(passes.values())


def _layer(ctx, name: str) -> list:
    return [s for group in _pass_spans(ctx, name) for s in group]


def end_to_end(workload: str, ctx, session_s: float) -> tuple[dict, dict]:
    """(result-line metrics, report-line metrics)."""
    e2e = {
        "setup_s": _m(session_s + ctx.setup_s, "s"),
        "cpu_s": _m(_med(ctx.pass_cpu), "s"),
    }
    report = {
        **e2e,
        "wall_s": _m(_med(ctx.passes), "s"),
        # E x iterations / PageRank wall time: cold in score, warm in refresh.
        "pagerank_edges_per_s": _m(_med(
            _ratio(s.attrs["edges"] * s.attrs["iterations"], s.seconds)
            for s in _layer(ctx, "pagerank")), "edges/s"),
    }
    if workload == "score":
        report["ingest_rows_per_s"] = _m(_med(
            _ratio(ctx.shape["rows"], s.seconds) for s in _layer(ctx, "derive.build_graph")),
            "rows/s")
    elif workload == "refresh":
        folds = _pass_spans(ctx, "incremental.fold")
        prs = _pass_spans(ctx, "pagerank")
        report["refresh_s"] = _m(_med(
            f[0].seconds + p[0].seconds for f, p in zip(folds, prs) if f and p), "s")
        q_ms = [s.seconds * 1e3 for s in _layer(ctx, "query")]
        report["query_p50_ms"] = _m(_med(q_ms), "ms")
        t = tail(q_ms)
        report["query_tail_ms"] = (
            {**_m(t.value, "ms"), "percentile": round(t.percentile, 2), "samples": t.samples}
            if t else {"value": None, "unit": "ms", "percentile": None,
                       "samples": len(q_ms), "note": "fewer than 11 samples"})
    report["failed_share"] = _m(ctx.ledger.failed_share, "ratio")
    return e2e, report


def per_layer(ctx, session_s: float) -> dict:
    out = {"session.start_s": _m(session_s, "s")}

    builds = _layer(ctx, "derive.build_graph")
    out["derive.build_graph_s"] = _m(_med(s.seconds for s in builds), "s")
    out["derive.jobs"] = _m(_med(s.jobs for s in builds), "count")
    out["derive.tasks"] = _m(_med(s.tasks for s in builds), "count")
    out["derive.edges"] = _m(_med(s.attrs["edges"] for s in builds), "count")
    out["derive.vertices"] = _m(_med(s.attrs["vertices"] for s in builds), "count")

    prs = _layer(ctx, "pagerank")
    its = [s.attrs["iterations"] for s in prs]
    out["pagerank.s"] = _m(_med(s.seconds for s in prs), "s")
    out["pagerank.iterations"] = _m(_med(its), "count")
    out["pagerank.s_per_iter"] = _m(_med(_ratio(s.seconds, i) for s, i in zip(prs, its)), "s")
    out["pagerank.jobs_per_iter"] = _m(_med(_ratio(s.jobs, i) for s, i in zip(prs, its)), "count")
    out["pagerank.tasks_per_iter"] = _m(_med(_ratio(s.tasks, i) for s, i in zip(prs, its)), "count")
    warm = [s for s in prs if "cold_iterations" in s.attrs]
    out["pagerank.warm_cold_iter_ratio"] = _m(_med(
        _ratio(s.attrs["iterations"], s.attrs["cold_iterations"]) for s in warm), "ratio")
    ck = [s for s in prs if "ckpt_bytes" in s.attrs]
    out["checkpoint.bytes_per_iter"] = _m(_med(
        _ratio(s.attrs["ckpt_bytes"], s.attrs["iterations"]) for s in ck), "bytes")
    out["checkpoint.files_per_iter"] = _m(_med(
        _ratio(s.attrs["ckpt_files"], s.attrs["iterations"]) for s in ck), "count")

    folds = _layer(ctx, "incremental.fold")
    out["incremental.fold_s"] = _m(_med(s.seconds for s in folds), "s")
    out["incremental.jobs"] = _m(_med(s.jobs for s in folds), "count")
    out["incremental.batch_rows"] = _m(_med(s.attrs["batch_rows"] for s in folds), "count")

    for layer, extra in (("cc", "rounds"), ("lpa", None), ("triangles", "count")):
        spans = _layer(ctx, layer)
        out[f"{layer}.s"] = _m(_med(s.seconds for s in spans), "s")
        out[f"{layer}.jobs"] = _m(_med(s.jobs for s in spans), "count")
        if extra:
            out[f"{layer}.{extra}"] = _m(_med(s.attrs[extra] for s in spans), "count")

    qs = _layer(ctx, "query")
    out["query.s"] = _m(_med(s.seconds for s in qs), "s")
    out["query.jobs_per_query"] = _m(_med(s.jobs for s in qs), "count")
    out["query.vertices_per_query"] = _m(_med(s.attrs["vertices"] for s in qs), "count")

    traced = sum(ctx.passes)
    out["trace.wall_s"] = _m(_med(ctx.passes), "s")
    out["trace.overhead_s"] = _m(ctx.tracer.overhead_s, "s")
    out["trace.overhead_share"] = _m(_ratio(ctx.tracer.overhead_s, traced), "ratio")
    return out
