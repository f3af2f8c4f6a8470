"""Vendored pure-Python reference-semantics oracle.

Implements the matching semantics of ``jtai-dev/record_matcher`` over
dict-of-dicts records, equation-for-equation:

- uniqueness ratio            records.py:49-67
- adjusted (per-row) weights  records.py:70-103 + matcher.py:173-177
- blocking (group_by)         records.py:106-132 + matcher.py:179-182
- column score = max over y cols, per-column contribution gate
                              matcher.py:8-89
- weighted row score, argmax with exact-float ties, optimal threshold
                              matcher.py:92-216
- classification / pull / annotation / duplicate resolution / summary
                              matcher.py:320-449

It is NOT a copy of the reference: it shares the reference's equations but
follows this engine's conventions — string-typed values with NULL≡'' (the
reference raises KeyError on ragged rows, records.py:66), honored
constructor args, the *intended* duplicate-loser clearing (the reference
nulls wrongly-named columns, matcher.py:439-440), and floating-point
accumulation in config rule order so the Spark plan's arithmetic matches
bit-for-bit.

Used by differential and property-based tests: Spark result == oracle
result on the same inputs.
"""

from __future__ import annotations

from typing import Any, Mapping

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.functions.scorers import SCORERS

Records = dict[int, dict[str, Any]]


def _s(v: Any) -> str:
    """str-coerce with missing/None -> '' (reference matcher.py:78-81)."""
    return "" if v is None else str(v)


def oracle_uniqueness(x_records: Records, column: str) -> float:
    """records.py:49-67 with NULL≡'' blanks."""
    if not x_records:
        return 0.0
    vals = {_s(r.get(column)) for r in x_records.values() if _s(r.get(column))}
    return len(vals) / len(x_records)


def oracle_score_pairs(
    x_records: Records,
    y_records: Records,
    cfg: MatchConfig,
    candidates: dict | None = None,
) -> dict[int, dict[int, float]]:
    """{x_index: {y_index: row_score}} for every pair that 'entered'
    scoring (some column gate passed), plus per-x optimal thresholds via
    :func:`oracle_optimal`.

    ``candidates``: optional explicit candidate map {x_key: iterable of
    y_keys} replacing columns_to_group blocking (the engine's
    score_candidate_pairs path — F1 is defined under identical blocking
    keys, BASELINE.json)."""
    u = {r.x_column: oracle_uniqueness(x_records, r.x_column) for r in cfg.rules}
    out: dict[int, dict[int, float]] = {}
    for xi, x in x_records.items():
        w = _weights(x, cfg, u)
        if candidates is not None:
            cand = {yi: y_records[yi] for yi in candidates.get(xi, ())}
        else:
            cand = _blocked(y_records, x, cfg)
        scores: dict[int, float] = {}
        for rule in cfg.rules:
            py = SCORERS[rule.scorer].py
            xv = _s(x.get(rule.x_column))
            for yi, y in cand.items():
                col_scores = [py(xv, _s(y.get(yc))) for yc in rule.y_columns]
                sc = max(col_scores) if col_scores else 0.0
                gate = sc >= rule.threshold if rule.cutoff else sc > 0
                if gate:
                    scores[yi] = scores.get(yi, 0.0) + sc * w.get(rule.x_column, 0.0)
        out[xi] = scores
    return out


def _weights(
    x: Mapping[str, Any], cfg: MatchConfig, u: Mapping[str, float]
) -> dict[str, float]:
    refined = [r.x_column for r in cfg.rules if _s(x.get(r.x_column))]
    u_sum = 0.0
    for r in cfg.rules:  # rule order — mirrors the Spark expression exactly
        if r.x_column in refined:
            u_sum = u_sum + u[r.x_column]
    if u_sum <= 0:
        return {}
    return {c: u[c] / u_sum for c in refined}


def oracle_optimal(
    x: Mapping[str, Any], cfg: MatchConfig, u: Mapping[str, float]
) -> float:
    """matcher.py:210-214 in rule order."""
    w = _weights(x, cfg, u)
    opt = 0.0
    for r in cfg.rules:
        opt = opt + r.threshold * w.get(r.x_column, 0.0)
    return opt


def _blocked(
    y_records: Records, x: Mapping[str, Any], cfg: MatchConfig
) -> Records:
    """records.py:106-132: keep y where every mapped column is string-equal."""
    if not cfg.columns_to_group:
        return y_records
    out = {}
    for yi, y in y_records.items():
        if all(
            _s(y.get(yc)) == _s(x.get(xc)) for yc, xc in cfg.columns_to_group.items()
        ):
            out[yi] = y
    return out


def oracle_match(
    x_records: Records,
    y_records: Records,
    cfg: MatchConfig,
    candidates: dict | None = None,
) -> tuple[Records, dict[str, int], dict[str, int]]:
    """Full pipeline → (annotated records, final summary, ref-compat summary).

    Statuses use the reference display vocabulary (matcher.py:269-275);
    annotation column names per matcher.py:277-281.
    """
    result, final, final_summary, compat, _claims = _oracle_match_full(
        x_records, y_records, cfg, candidates
    )
    return result, final_summary, compat


def _oracle_match_full(
    x_records: Records,
    y_records: Records,
    cfg: MatchConfig,
    candidates: dict | None = None,
):
    u = {r.x_column: oracle_uniqueness(x_records, r.x_column) for r in cfg.rules}
    all_scores = oracle_score_pairs(x_records, y_records, cfg, candidates)

    result: Records = {xi: dict(x) for xi, x in x_records.items()}
    phase1: dict[int, str] = {}
    claim: dict[int, tuple[int, float]] = {}  # x_index -> (y_index, score)

    for xi, x in x_records.items():
        scores = all_scores[xi]
        optimal = oracle_optimal(x, cfg, u)
        if scores:
            mx = max(scores.values())
            tied = sorted(yi for yi, s in scores.items() if s == mx)
        else:
            mx, tied = None, []
        passed = bool(tied) and mx >= cfg.required_threshold

        if not passed:
            st = "unmatched"
        elif len(tied) > 1:
            st = "ambiguous"
        elif mx <= optimal:
            st = "review"
        else:
            st = "matched"
        phase1[xi] = st

        if st in ("matched", "review"):
            yi = tied[0]
            claim[xi] = (yi, mx)
            for yc, xt in cfg.columns_to_get.items():
                result[xi][xt] = y_records[yi].get(yc)
        else:
            for yc, xt in cfg.columns_to_get.items():
                result[xi][xt] = None

        result[xi]["match_status"] = phase1[xi].upper()
        result[xi]["row(s)_matched"] = (
            ", ".join(str(yi) for yi in tied) if passed else ""
        )
        result[xi]["match_score"] = (
            ", ".join(str(float(mx)) for _ in tied) if passed else ""
        )

    # duplicate resolution (matcher.py:408-447), intended loser clearing
    by_y: dict[int, list[tuple[int, float]]] = {}
    for xi, (yi, s) in claim.items():
        by_y.setdefault(yi, []).append((xi, s))

    final = dict(phase1)
    for yi, xs in by_y.items():
        if len(xs) <= 1:
            continue
        max_s = max(s for _, s in xs)
        min_s = min(s for _, s in xs)
        n_at_max = sum(1 for _, s in xs if s == max_s)
        if n_at_max > 1 or abs(max_s - min_s) < cfg.duplicate_threshold:
            for xi, _ in xs:
                final[xi] = "duplicate"
                result[xi]["match_status"] = "DUPLICATE"
        else:
            for xi, s in xs:
                if s != max_s:
                    final[xi] = "unmatched"
                    result[xi]["match_status"] = "UNMATCHED"
                    result[xi]["row(s)_matched"] = ""
                    result[xi]["match_score"] = ""
                    for xt in cfg.columns_to_get.values():
                        result[xi][xt] = None

    final_summary: dict[str, int] = {}
    for st in final.values():
        final_summary[st] = final_summary.get(st, 0) + 1
    # ref-compat Counter double-counts re-marks (matcher.py:403, 431, 447)
    compat: dict[str, int] = {}
    for st in phase1.values():
        compat[st] = compat.get(st, 0) + 1
    for xi, st in final.items():
        if st != phase1[xi]:
            compat[st] = compat.get(st, 0) + 1
    return result, final, final_summary, compat, claim


# --------------------------------------------------------------------------
# clustering oracle (north-star: best-match/tie-break semantics before CC)
# --------------------------------------------------------------------------


def oracle_union_find(nodes, edges) -> dict:
    """Connected components with min-id labels (oracle for
    operators.cluster.connected_components)."""
    parent = {n: n for n in nodes}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def oracle_clusters(
    records: Records,
    cfg: MatchConfig,
    candidates: dict,
) -> dict:
    """Dedup-mode clustering oracle: reference match semantics (directed,
    incl. duplicate resolution) on the given candidate map, edges from
    single-survivor claims with final status matched or review (the
    pipeline's ``EDGE_STATUSES``), connected components with min-id
    labels."""
    _res, final, _fs, _cc, claims = _oracle_match_full(
        records, records, cfg, candidates
    )
    edges = [
        (xi, yi)
        for xi, (yi, _s) in claims.items()
        if final[xi] in ("matched", "review")
    ]
    return oracle_union_find(list(records), edges)


def oracle_threshold_clusters(
    records: Records, cfg: MatchConfig, candidates: dict
) -> dict:
    """Threshold-mode clustering oracle (pipeline edge_mode='threshold'):
    every scored pair >= required_threshold is an edge."""
    scores = oracle_score_pairs(records, records, cfg, candidates)
    edges = [
        (xi, yi)
        for xi, d in scores.items()
        for yi, s in d.items()
        if xi != yi and s >= cfg.required_threshold
    ]
    return oracle_union_find(list(records), edges)
