"""Per-layer metrics of a traced run.

Inputs: the spans and counters the traced server (or the in-process
tracer) recorded, and the client's own records of the same statements.
Only the traced ("B") windows count, except ``catalog.boot_s``, which is
the server start. Layers the workload does not reach report 0.
"""

from __future__ import annotations

from collections import defaultdict

from spans import layer_self_ns, reparent_init, union_ns

LAYERS = ("protocol.server", "protocol.messages", "dialect", "session", "catalog",
          "spark.analyze", "spark.execute", "encoders", "operators")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload: str, out: dict, wanted: list[dict]) -> dict[str, float]:
    rec, dump = out["rec"], out["dump"]
    traced = [s for s in rec.stmts if s.phase == "B"]
    untraced = [s for s in rec.stmts if s.phase == "A"]
    t_b = min(s.t_sent for s in traced)
    all_spans = [tuple(s[:5]) + (tuple(s[5]) if s[5] is not None else None,)
                 for s in dump["spans"]]
    boot = [s for s in all_spans if s[1] == "catalog:init_pg_catalog"]
    spans = reparent_init([s for s in all_spans if s[2] >= t_b])
    n = max(len(traced), 1)
    m: dict[str, float] = defaultdict(float)

    by_name: dict[str, list[tuple]] = defaultdict(list)
    for s in spans:
        by_name[s[1]].append(s)
    layer_self = layer_self_ns(spans)
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = layer_self.get(layer, 0) / 1e6 / n

    def spans_of(prefix: str, names=None):
        return [s for k, v in by_name.items() if k.startswith(prefix)
                and (names is None or k.split(":", 1)[1] in names) for s in v]

    def dur(ss) -> list[int]:
        return [s[3] - s[2] for s in ss]

    msgs = spans_of("protocol.messages:")
    m["messages.decode_us"] = _mean(dur(msgs)) / 1e3
    m["messages.count"] = len(msgs) / n
    m["dialect.rewrite_us"] = _mean(dur(spans_of("dialect:", {"rewrite_sql"}))) / 1e3
    m["dialect.classify_us"] = _mean(
        dur(spans_of("dialect:", {"classify_statement", "split_statements"}))) / 1e3
    m["dialect.calls"] = len(spans_of("dialect:")) / n

    c = dump["counters"]
    m["session.register_ms"] = _mean(dur(spans_of("session:", {"register_tables"}))) / 1e6
    if c.get("session.load_table"):
        m["session.schema_cache_hit_ratio"] = c["session.schema_cache_hit"] / c["session.load_table"]
    m["catalog.boot_s"] = sum(dur(boot)) / 1e9
    m["catalog.sysfn_init_ms"] = _mean(dur(spans_of("catalog:", {"init_system_functions"}))) / 1e6
    m["catalog.refresh_ms"] = _mean(dur(spans_of("catalog:", {"refresh_runtime_catalog"}))) / 1e6
    m["catalog.refresh_calls"] = c.get("catalog.refresh_calls", 0)
    if c.get("catalog.refresh_calls"):
        m["catalog.refresh_needed_ratio"] = c["catalog.refresh_after_ddl"] / c["catalog.refresh_calls"]

    m["spark.analyze_ms"] = sum(dur(spans_of("spark.analyze:"))) / 1e6 / n
    m["spark.execute_ms"] = sum(dur(spans_of("spark.execute:"))) / 1e6 / n
    jobs = [j for js in dump["jobs"].values() for j in js]
    m["spark.jobs"] = len(jobs) / n
    m["spark.stages"] = sum(j[1] for j in jobs) / n
    m["spark.tasks"] = sum(j[2] for j in jobs) / n

    enc_ns = sum(dur(spans_of("encoders:")))
    m["encode.ms"] = enc_ns / 1e6 / n
    m["encode.rows"] = c.get("encode.rows", 0) / n
    if enc_ns:
        m["encode.mb_per_s"] = c.get("encode.bytes", 0) / 1e6 / (enc_ns / 1e9)

    # time inside the client's view of a statement that no server span covers
    pid_conn = {pid: int(conn) for conn, pid in dump["conn_pid"].items()}
    stmt_spans: dict[tuple, list] = defaultdict(list)
    for s in spans:
        if s[5] is not None:
            stmt_spans[s[5]].append((s[2], s[3]))
    if pid_conn:
        m["server.wait_ms"] = _mean(
            (s.t_done - s.t_sent - union_ns(stmt_spans.get((pid_conn.get(s.pid), s.n), ()),
                                             s.t_sent, s.t_done)) / 1e6
            for s in traced)
    m["server.connect_ready_ms"] = _mean(rec.samples.get("connect_ready_ms", ()))

    with_resp = [s for s in traced if s.resp is not None]
    m["wire.first_byte_ms"] = _mean((s.resp.t_first_byte - s.t_sent) / 1e6 for s in with_resp)
    m["wire.stream_ms"] = _mean((s.resp.t_last_row - s.resp.t_first_row) / 1e6
                                for s in with_resp if s.resp.t_first_row)
    m["wire.bytes"] = _mean(s.resp.nbytes for s in with_resp)
    m["wire.msgs"] = _mean(s.resp.msgs for s in with_resp)
    cin = [c_ for c_ in rec.samples.get("copy_in", ()) if c_[0] == "B"]
    m["copyin.send_ms"] = _mean(c_[1] for c_ in cin)
    m["copyin.commit_ms"] = _mean(c_[2] for c_ in cin)

    if workload == "operator_batch":
        for s in traced:
            m[f"operators.{s.kind}_s"] = s.ms / 1e3
        m["operators.tasks"] = sum(j[2] for j in jobs)

    # tracing overhead: traced vs untraced mean statement time, same run
    if untraced and traced:
        m["trace.overhead_pct"] = 100.0 * (_mean(s.ms for s in traced)
                                           / _mean(s.ms for s in untraced) - 1.0)
    m["trace.spans"] = len(spans)
    return {w["name"]: float(m.get(w["name"], 0.0)) for w in wanted}
