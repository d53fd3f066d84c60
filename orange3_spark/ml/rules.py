"""CN2 rule induction as distributed candidate-evaluation sweeps.

Reference: ``Orange/classification/rules.py`` — CN2 learns an ordered rule
list by sequential covering: beam-search the best conjunction of selectors,
predict the majority class among covered rows, remove them, repeat.  Rule
quality is Laplace accuracy; with no fixed target class the reference uses
``(max_class_count + 1) / (covered + n_classes)``
(``LaplaceAccuracyEvaluator.evaluate_rule``, rules.py:187-199).

Spark-first reformulation: the expensive step — scoring *every* candidate
refinement of a rule — is a single aggregation pass PER BEAM MEMBER.  All
(attribute, value, class) counts under the member's conjunction come from
one ``stack``-unpivot + groupBy (map-side combinable, codegen-safe, no
UDFs), and the conjunction is a plain equality filter, so it PUSHES DOWN
to the scan — each member's pass reads only its selector's row groups.
(A fused single-scan variant that exploded rows into matching members was
tried in r7 and MEASURED 1.5-2× slower here: the explode forfeits
per-member predicate pushdown and generates |scopes| × |attrs| rows from
a full read — per-member pushdown beats scan-sharing when selectors are
selective, which CN2 selectors are by construction.)  Only per-candidate
count triples ever reach the driver (bounded by attribute cardinality,
never row count).  The uncovered remainder is cached per rule so
successive rules scan shrinking data.

A depth-1 rule list (single-selector rules, beam 1) is expressible as
chained SQL CTEs, which is exactly what the registered oracle does.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orange3_spark.session import fetch_capped, fetch_local, local_frame

__all__ = ["Rule", "cn2_induce", "rules_to_dataframe", "cn2_predict",
           "contingency_cube", "cn2_unordered_induce", "cn2_sd_induce",
           "induce_unordered_from_cube", "induce_sd_from_cube",
           "unordered_rules_to_dataframe", "sd_rules_to_dataframe"]


@dataclass
class Rule:
    """An induced rule: ``IF sel1 AND sel2 ... THEN class``."""
    selectors: list  # [(attr, value)]
    prediction: object
    quality: float
    covered: int
    correct: int

    def predicate(self) -> Column:
        """Selector values are matched as strings (discrete attributes)."""
        p = F.lit(True)
        for attr, value in self.selectors:
            p = p & (F.col(attr).cast("string") == F.lit(str(value)))
        return p

    def __str__(self):
        cond = " AND ".join(f"{a}={v}" for a, v in self.selectors) or "TRUE"
        return (f"IF {cond} THEN {self.prediction}  "
                f"(laplace={self.quality:.4f}, {self.correct}/{self.covered})")


def _candidate_counts(df: DataFrame, attrs: Sequence[str],
                      class_col: str) -> list:
    """(attr, value, class, count) for every single-selector refinement —
    ONE scan: stack-unpivot the attributes then count."""
    n = len(attrs)
    stack_args = ", ".join(f"'{a}', cast(`{a}` as string)" for a in attrs)
    pairs = df.select(
        F.expr(f"stack({n}, {stack_args}) as (attr, value)"),
        F.col(class_col).alias("cls"))
    rows = (pairs.where(F.col("value").isNotNull())
                 .groupBy("attr", "value", "cls").count().collect())
    return [(r["attr"], r["value"], r["cls"], r["count"]) for r in rows]


def _score(counts_by_class: dict, n_classes: int, target_class=None):
    """Laplace accuracy + prediction with deterministic ties.

    No target class (majority mode): ``(max_count+1)/(total+n_classes)``;
    with a target class the reference uses k=2 — target vs rest
    (``LaplaceAccuracyEvaluator``, rules.py:187-199)."""
    total = sum(counts_by_class.values())
    if target_class is not None:
        top = counts_by_class.get(target_class, 0)
        return (top + 1) / (total + 2), target_class, total, top
    # deterministic: max count, then smallest class value
    top = max(counts_by_class.values())
    best_cls = min(c for c, v in counts_by_class.items() if v == top)
    return (top + 1) / (total + n_classes), best_cls, total, top


def _cn2_cube_cells(df: DataFrame, attrs: Sequence[str], class_col: str):
    """Fetch the (attrs…, class) contingency cube when driver-sized.

    Sequential covering with equality selectors is a pure function of this
    cube (every base count, candidate-refinement count and coverage
    removal aggregates whole cells — the registered depth-2 oracle
    replays the loop from the same cube, plans/oracle_replay.py), so ONE
    map-side-combinable aggregation replaces the rules×depth×beam scans
    of the loop below (34 jobs at depth 2/width 2, r10 profile).  Attr
    keys are cast to string exactly like ``_candidate_counts`` /
    ``Rule.predicate``; the class key stays raw.  Returns
    ``[(vals_dict, cls, n)]`` or ``None`` when the cube is past the
    :func:`fetch_local` cap (the scan loop then runs unchanged)."""
    keys = [F.col(a).cast("string").alias(f"_a{i}")
            for i, a in enumerate(attrs)]
    tbl = fetch_local(df.select(*keys, F.col(class_col).alias("_cls"))
                        .groupBy(*[f"_a{i}" for i in range(len(attrs))],
                                 "_cls")
                        .count())
    if tbl is None:
        return None
    return [(dict(zip(attrs, r[:-2])), r[-2], r[-1])
            for r in zip(*(c.to_pylist() for c in tbl.columns))]


def _cn2_induce_from_cells(cells: list, attrs: Sequence[str], *,
                           max_rules: int, beam_width: int,
                           max_selectors: int, min_covered: int,
                           n_classes: Optional[int],
                           target_class) -> list:
    """The identical beam-search + sequential-covering loop as
    :func:`cn2_induce`'s distributed path, run over collected cube cells:
    same ``_score``, same ``(-q, -tot, str(sels))`` beam ordering, same
    strict-improvement and stopping semantics, NULL attr values fail
    selectors (cells keep ``None`` keys and never match), so the rule
    list is bit-identical to the scan loop's."""
    if n_classes is None:
        # scan-path analogue: distinct class values over the SAME frame
        n_classes = len({cls for _v, cls, _n in cells})

    def match(vals, sels):
        return all(vals[a] == v for a, v in sels)

    remaining = cells
    rules: list[Rule] = []
    for _ in range(max_rules):
        base: dict = {}
        for vals, cls, n in remaining:
            base[cls] = base.get(cls, 0) + n
        if not base:
            break
        q0, cls0, tot0, top0 = _score(base, n_classes, target_class)
        best = (q0, [], cls0, tot0, top0)
        beam = [best]
        for _depth in range(max_selectors):
            nxt = []
            for _q, sels, _c, _t, _p in beam:
                used = {a for a, _v in sels}
                free = [a for a in attrs if a not in used]
                if not free:
                    continue
                by_sel: dict = {}
                for vals, cls, n in remaining:
                    if not match(vals, sels):
                        continue
                    for a in free:
                        v = vals[a]
                        if v is None:
                            continue
                        d = by_sel.setdefault((a, v), {})
                        d[cls] = d.get(cls, 0) + n
                for (a, v), dist in by_sel.items():
                    q, cls, tot, top = _score(dist, n_classes, target_class)
                    if tot >= min_covered:
                        nxt.append((q, sels + [(a, v)], cls, tot, top))
            if not nxt:
                break
            nxt.sort(key=lambda t: (-t[0], -t[3], str(t[1])))
            beam = nxt[:beam_width]
            if beam[0][0] > best[0]:
                best = beam[0]
        quality, sels, cls, tot, top = best
        if not sels:
            break
        rules.append(Rule(sels, cls, quality, tot, top))
        remaining = [(vals, c, n) for vals, c, n in remaining
                     if not match(vals, sels)]
    left: dict = {}
    for vals, cls, n in remaining:
        left[cls] = left.get(cls, 0) + n
    if left:
        q, cls, tot, top = _score(left, n_classes, target_class)
        rules.append(Rule([], cls, q, tot, top))
    return rules


def cn2_induce(df: DataFrame, attrs: Sequence[str], class_col: str, *,
               max_rules: int = 5, beam_width: int = 5,
               max_selectors: int = 3, min_covered: int = 1,
               n_classes: Optional[int] = None,
               target_class=None) -> list:
    """Ordered CN2 rule list (unordered evaluator, majority prediction).

    Fast path (r10): the (attrs…, class) contingency cube is the
    sufficient statistic for equality-selector sequential covering, so
    when it is driver-sized (:func:`fetch_local`) the whole loop
    runs over ONE fetched aggregation — 34 jobs → 1 at depth 2
    (measured 4.8 → ~0.5 s at sf0.1), and at scale one pass over the
    data replaces rules×depth×beam passes.

    Scan path (cube too big to collect): each beam depth evaluates all
    refinements of each beam member with one stack-unpivot aggregation
    over the remaining rows; sequential covering filters covered rows out
    (predicate pushdown keeps the scans shrinking).  The terminal default
    rule (empty selector list) is always appended by both paths.
    """
    attrs = list(attrs)
    cells = _cn2_cube_cells(df, attrs, class_col)
    if cells is not None:
        return _cn2_induce_from_cells(
            cells, attrs, max_rules=max_rules, beam_width=beam_width,
            max_selectors=max_selectors, min_covered=min_covered,
            n_classes=n_classes, target_class=target_class)
    if n_classes is None:
        n_classes = df.select(class_col).distinct().count()
    remaining = df
    rules: list[Rule] = []

    cached = []
    for _ in range(max_rules):
        # ---- beam search for the best conjunction on `remaining`
        # beam entries: (quality, selectors, prediction, covered, correct)
        base_counts: dict = {}
        for r in remaining.groupBy(class_col).count().collect():
            base_counts[r[0]] = r[1]
        if not base_counts:  # everything covered
            break
        q0, cls0, tot0, top0 = _score(base_counts, n_classes, target_class)
        best = (q0, [], cls0, tot0, top0)
        beam = [best]
        for _depth in range(max_selectors):
            nxt = []
            for quality, sels, _, _, _ in beam:
                used = {a for a, _v in sels}
                free = [a for a in attrs if a not in used]
                if not free:
                    continue
                scope = remaining
                for a, v in sels:
                    scope = scope.where(
                        F.col(a).cast("string") == F.lit(str(v)))
                cand = _candidate_counts(scope, free, class_col)
                by_sel: dict = {}
                for attr, value, cls, cnt in cand:
                    by_sel.setdefault((attr, value), {})[cls] = cnt
                for (attr, value), dist in by_sel.items():
                    q, cls, tot, top = _score(dist, n_classes, target_class)
                    if tot >= min_covered:
                        nxt.append((q, sels + [(attr, value)], cls, tot, top))
            if not nxt:
                break
            # deterministic beam: quality desc, coverage desc, selector repr
            nxt.sort(key=lambda t: (-t[0], -t[3], str(t[1])))
            beam = nxt[:beam_width]
            if beam[0][0] > best[0]:
                best = beam[0]
        quality, sels, cls, tot, top = best
        if not sels:  # nothing beats the default rule: stop
            break
        rule = Rule(sels, cls, quality, tot, top)
        rules.append(rule)
        # coalesce: a NULL attribute makes predicate() NULL, and WHERE ~NULL
        # would silently drop the row; reference semantics are "missing value
        # fails the selector", so the row must stay uncovered
        remaining = remaining.where(
            ~F.coalesce(rule.predicate(), F.lit(False))).cache()
        cached.append(remaining)

    # default rule over whatever is left
    left = {r[0]: r[1] for r in
            remaining.groupBy(class_col).count().collect()}
    if left:
        q, cls, tot, top = _score(left, n_classes, target_class)
        rules.append(Rule([], cls, q, tot, top))
    for c in cached:
        c.unpersist()
    return rules


def rules_to_dataframe(spark, rules: Sequence[Rule]) -> DataFrame:
    rows = [(i, " AND ".join(f"{a}={v}" for a, v in r.selectors) or "TRUE",
             str(r.prediction), float(r.quality), int(r.covered),
             int(r.correct))
            for i, r in enumerate(rules)]
    return local_frame(
        spark, rows, "rule_idx int, conditions string, prediction string, "
                     "laplace double, covered bigint, correct bigint")


def cn2_predict(df: DataFrame, rules: Sequence[Rule],
                out: str = "prediction") -> DataFrame:
    """First-matching-rule prediction as one chained CASE expression —
    pure codegen, no Python at inference."""
    expr = None
    for r in reversed(rules):
        if not r.selectors:
            expr = F.lit(r.prediction)
            continue
        expr = F.when(r.predicate(), F.lit(r.prediction)) \
            .otherwise(expr if expr is not None else F.lit(None))
    return df.withColumn(out, expr)


# --------------------------------------------------------------------------
# Unordered / subgroup-discovery variants (contingency-cube design)
#
# Reference: ``Orange/classification/rules.py:1317`` (CN2UnorderedLearner —
# per-class induction, Laplace k=2, exclusive covering of POSITIVE examples
# only), ``:1377`` (CN2SDLearner — weighted relative accuracy, weighted
# covering: covered examples keep participating with weight *= gamma) and
# ``:1453`` (CN2SDUnorderedLearner — per-class weighted covering).
#
# Spark-first reformulation: these variants never shrink the data (unordered
# covering removes only one class's rows; SD covering removes nothing), so
# the ordered learner's re-scan-per-rule shape is the WRONG plan here.
# Because every selector is an attr=value equality over the same attribute
# set, the (attr values…, class) contingency CUBE is a sufficient statistic
# for the whole induction: cells are covered all-or-nothing by any rule, so
# per-cell counts (unordered) or per-cell decayed weights (SD) replay the
# reference's per-row covering exactly.  ONE distributed groupBy builds the
# cube (map-side combinable, bounded by the product of attribute
# cardinalities — never row count); the beam/covering loop then runs on
# driver-side cells.  At 100 TB that is one pass over the data and a few kB
# of state, vs the reference's in-memory boolean masks over all rows.
#
# Exactness: unordered qualities are one exact int division; SD weights are
# ``fractions.Fraction`` (gamma = 7/10, weight = gamma**m exactly), so every
# WRAcc comparison is exact rational arithmetic and the emitted quantities
# are integer fixed-point — bit-identical across engines, which is what lets
# the SQL oracles replay the full induction (the [[spark-determinism-
# quantization]] contract).


#: cell bound of :func:`contingency_cube`
CN2_CUBE_MAX_CELLS = 100_000


def contingency_cube(df: DataFrame, attrs: Sequence[str],
                     class_col: str) -> list:
    """The (attr values…, class, count) cube — ONE distributed aggregation,
    the sufficient statistic for equality-selector rule induction.  Rows
    with a missing class are dropped (the reference's HasClass
    preprocessor); missing attribute values stay (a NULL never matches a
    selector).  Raises if the cube exceeds :data:`CN2_CUBE_MAX_CELLS`
    cells — cube size is Π|attr| × |classes|, so this guards against
    accidentally passing a high-cardinality attribute, not against data
    volume."""
    gb = (df.where(F.col(class_col).isNotNull())
          .groupBy(*[F.col(a).cast("string").alias(a) for a in attrs],
                   F.col(class_col).cast("string").alias("__cls"))
          .count())
    tbl = fetch_capped(gb, CN2_CUBE_MAX_CELLS)
    if tbl is None:
        raise ValueError(
            f"contingency cube exceeds {CN2_CUBE_MAX_CELLS} cells; rule "
            "induction needs bounded-cardinality attributes — discretize "
            "first")
    return [(dict(zip(attrs, r)), r[-2], r[-1])
            for r in zip(*(c.to_pylist() for c in tbl.columns))]


def _match(vals: dict, sels: list) -> bool:
    return all(vals[a] == v for a, v in sels)


def _dist(cells, weights=None) -> dict:
    d: dict = {}
    for i, (_vals, cls, n) in enumerate(cells):
        w = n if weights is None else n * weights[i]
        d[cls] = d.get(cls, 0) + w
    return d


def induce_unordered_from_cube(cells: list, attrs: Sequence[str], *,
                               max_rules_per_class: int = 2,
                               beam_width: int = 2, max_selectors: int = 2,
                               min_covered: int = 1) -> list:
    """CN2Unordered (``rules.py:1317``) on the contingency cube: for each
    class (sorted — the reference iterates class order), beam-search the
    best conjunction by target-class Laplace ``(n_tc+1)/(n+2)``, then
    remove only the covered TARGET-class counts
    (``exclusive_cover_and_remove`` with target set, ``rules.py:1069``) and
    repeat.  A majority default rule over the FULL data closes the list
    (``fit_storage``, ``rules.py:1352``).  Pure function of the cube —
    shared verbatim by the engine and the SQL replay oracle."""
    classes = sorted({cls for _v, cls, _n in cells})
    n_classes = len(classes)
    rules: list[Rule] = []
    for tc in classes:
        remaining = list(cells)
        seen: set = set()
        for _ in range(max_rules_per_class):
            base = _dist(remaining)
            if base.get(tc, 0) < min_covered:
                break
            q0, _c0, tot0, top0 = _score(base, n_classes, tc)
            best = (q0, [], tc, tot0, top0)
            beam = [best]
            for _depth in range(max_selectors):
                nxt = []
                for _q, sels, _c, _t, _p in beam:
                    used = {a for a, _v in sels}
                    free = [a for a in attrs if a not in used]
                    if not free:
                        continue
                    by_sel: dict = {}
                    for vals, cls, n in remaining:
                        if not _match(vals, sels):
                            continue
                        for a in free:
                            if vals[a] is None:
                                continue
                            d = by_sel.setdefault((a, vals[a]), {})
                            d[cls] = d.get(cls, 0) + n
                    for (a, v), dist in by_sel.items():
                        if dist.get(tc, 0) < min_covered:
                            continue
                        q, cls, tot, top = _score(dist, n_classes, tc)
                        nxt.append((q, sels + [(a, v)], cls, tot, top))
                if not nxt:
                    break
                nxt.sort(key=lambda t: (-t[0], -t[3], str(t[1])))
                beam = nxt[:beam_width]
                # best NEW rule — the reference's RuleHunter skips rules
                # already in the list and returns the best unseen one
                # (rules.py:880-893); the beam itself may keep refining
                # through seen conjunctions
                fresh = next((t for t in nxt
                              if frozenset(t[1]) not in seen), None)
                if fresh is not None and fresh[0] > best[0]:
                    best = fresh
            q, sels, _cls, tot, top = best
            if not sels:
                break
            # conjunctions are order-insensitive: {x, p} == {p, x}
            seen.add(frozenset(sels))
            rules.append(Rule(sels, tc, q, tot, top))
            remaining = [(vals, c, n) for vals, c, n in remaining
                         if not (_match(vals, sels) and c == tc)]
    base = _dist(cells)
    q, cls, tot, top = _score(base, n_classes, None)
    rules.append(Rule([], cls, q, tot, top))
    return rules


def induce_sd_from_cube(cells: list, attrs: Sequence[str], *,
                        gamma=None, per_class: bool = False,
                        max_rules: int = 4, beam_width: int = 2,
                        max_selectors: int = 2, min_covered: int = 1) -> list:
    """CN2-SD weighted covering (``rules.py:1377`` ordered /
    ``:1453`` per-class; Lavrač et al., JMLR 5 (2004)): rule quality is
    weighted relative accuracy

        WRAcc = p_cond·(p_tp − p_class)        if p_tp > p_class
                (p_tp − p_class)/max(p_cond,ε) otherwise

    (``WeightedRelativeAccuracyEvaluator``, ``rules.py:203-226``; prior
    distribution fixed at the initial data), and covering DECAYS covered
    examples' weights by gamma (default 7/10, ``rules.py:1412``) instead
    of removing them — covered positives only when ``per_class``, all
    covered rows otherwise.  Induction stops when the best rule repeats
    (the reference's no-new-unique-rule break), the beam finds nothing, or
    ``max_rules`` per scope is hit.  All weights are exact Fractions
    (gamma**m), every comparison exact rational arithmetic; ε is
    Fraction(1, 10**6), matching the reference's 1e-6 up to float
    representation.  Ties in the majority (modus) class break toward the
    smallest class value (the reference's argmaxrnd is random — documented
    deviation for determinism).  Returns ``(selectors, prediction, wracc,
    wcovered, wcorrect)`` tuples with Fraction quantities, default rule
    (initial weights, quality 0 by construction) last."""
    from fractions import Fraction

    if gamma is None:
        gamma = Fraction(7, 10)
    prior = _dist(cells)
    prior_tot = sum(prior.values())
    classes = sorted(prior)
    eps = Fraction(1, 10 ** 6)

    def wracc(dist: dict, tc):
        dist_sum = sum(dist.values())
        if dist_sum == 0:
            return None
        if tc is None:
            top = max(dist.values())
            d_cls = min(c for c, v in dist.items() if v == top)
        else:
            d_cls = tc
        p_cond = Fraction(dist_sum) / prior_tot
        p_tp = Fraction(dist.get(d_cls, 0)) / dist_sum
        p_class = Fraction(prior[d_cls]) / prior_tot
        diff = p_tp - p_class
        q = p_cond * diff if p_tp > p_class else diff / max(p_cond, eps)
        return q, d_cls, dist_sum, dist.get(d_cls, 0)

    out = []
    scopes = classes if per_class else [None]
    for tc in scopes:
        weights = [Fraction(1)] * len(cells)
        seen: set = set()
        for _ in range(max_rules):
            base = _dist(cells, weights)
            ev0 = wracc(base, tc)
            if ev0 is None or (tc is not None
                               and base.get(tc, 0) < min_covered):
                break
            q0, cls0, tot0, top0 = ev0
            best = (q0, [], cls0, tot0, top0)
            beam = [best]
            for _depth in range(max_selectors):
                nxt = []
                for _q, sels, _c, _t, _p in beam:
                    used = {a for a, _v in sels}
                    free = [a for a in attrs if a not in used]
                    if not free:
                        continue
                    by_sel: dict = {}
                    for i, (vals, cls, n) in enumerate(cells):
                        if not _match(vals, sels):
                            continue
                        for a in free:
                            if vals[a] is None:
                                continue
                            d = by_sel.setdefault((a, vals[a]), {})
                            d[cls] = d.get(cls, 0) + n * weights[i]
                    for (a, v), dist in by_sel.items():
                        tgt = dist.get(tc, 0) if tc is not None \
                            else max(dist.values())
                        if tgt < min_covered:
                            continue
                        ev = wracc(dist, tc)
                        if ev is None:
                            continue
                        q, cls, tot, top = ev
                        nxt.append((q, sels + [(a, v)], cls, tot, top))
                if not nxt:
                    break
                nxt.sort(key=lambda t: (-t[0], -t[3], str(t[1])))
                beam = nxt[:beam_width]
                # best NEW rule (see induce_unordered_from_cube) — with
                # weighted covering the same subgroup keeps scoring well
                # as its weight decays, so skipping seen conjunctions is
                # what lets the search surface the next subgroup
                fresh = next((t for t in nxt
                              if frozenset(t[1]) not in seen), None)
                if fresh is not None and fresh[0] > best[0]:
                    best = fresh
            q, sels, cls, tot, top = best
            if not sels:
                break
            # conjunctions are order-insensitive: {x, p} == {p, x}
            seen.add(frozenset(sels))
            out.append((sels, cls, q, tot, top))
            for i, (vals, c, _n) in enumerate(cells):
                if _match(vals, sels) and (tc is None or c == tc):
                    weights[i] *= gamma
    ev = wracc(prior, None)
    if ev is not None:
        q, cls, tot, top = ev
        out.append(([], cls, q, tot, top))
    return out


def cn2_unordered_induce(df: DataFrame, attrs: Sequence[str],
                         class_col: str, **kw) -> list:
    """Distributed entry: one cube aggregation, then the pure per-class
    covering loop (:func:`induce_unordered_from_cube`)."""
    return induce_unordered_from_cube(
        contingency_cube(df, attrs, class_col), list(attrs), **kw)


def cn2_sd_induce(df: DataFrame, attrs: Sequence[str],
                  class_col: str, **kw) -> list:
    """Distributed entry: one cube aggregation, then the pure weighted-
    covering loop (:func:`induce_sd_from_cube`)."""
    return induce_sd_from_cube(
        contingency_cube(df, attrs, class_col), list(attrs), **kw)


def unordered_rules_to_dataframe(spark, rules: Sequence[Rule]) -> DataFrame:
    """(rule_idx, conditions, prediction, laplace, covered, correct) —
    same shape as :func:`rules_to_dataframe`; per-class rules carry their
    target class as ``prediction``."""
    return rules_to_dataframe(spark, rules)


SD_WRACC_QSCALE = 10 ** 9
SD_WEIGHT_QSCALE = 10 ** 6


def sd_rules_to_dataframe(spark, sd_rules: Sequence[tuple]) -> DataFrame:
    """Quantize the exact-Fraction SD quantities to integer fixed point
    (wracc × 1e9, weighted coverage × 1e6 — floor(x·S + 1/2) over exact
    rationals, so the int64s are bit-stable across engines)."""
    import math
    from fractions import Fraction

    half = Fraction(1, 2)
    rows = [(i,
             " AND ".join(f"{a}={v}" for a, v in sels) or "TRUE",
             str(cls),
             int(math.floor(q * SD_WRACC_QSCALE + half)),
             int(math.floor(Fraction(tot) * SD_WEIGHT_QSCALE + half)),
             int(math.floor(Fraction(top) * SD_WEIGHT_QSCALE + half)))
            for i, (sels, cls, q, tot, top) in enumerate(sd_rules)]
    return local_frame(
        spark, rows, "rule_idx int, conditions string, prediction string, "
                     "wracc_q bigint, wcovered_q bigint, wcorrect_q bigint")
