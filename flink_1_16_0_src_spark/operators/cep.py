"""CEP / MATCH_RECOGNIZE — pattern matching over ordered event rows.

Reference parity (SURVEY.md §2.8):
- SQL MATCH_RECOGNIZE: StreamExecMatch.java:59 / BatchExecMatch.java —
  PARTITION BY / ORDER BY rowtime / PATTERN / DEFINE / MEASURES /
  AFTER MATCH SKIP { PAST LAST ROW | TO NEXT ROW | TO FIRST <var> |
  TO LAST <var> }.
- CEP library NFA: flink-libraries/flink-cep/.../nfa/NFA.java:86 —
  greedy quantifiers (SURVEY.md §7.3 risk 4): PATTERN (A B* C),
  (A B+ C?), {n,m} ranges, ALTERNATION groups ((A|B), branches tried
  in declaration order like the NFA's ordered epsilon transitions;
  each branch keeps its own variable name, quantifier, and DEFINE
  predicate), CONTIGUITY modes (next = strict, followedBy = relaxed /
  SKIP_TILL_NEXT — Pattern.java next()/followedBy()), and NEGATIVE
  patterns (notNext / notFollowedBy — NFACompiler stop states).
  followedByAny (SKIP_TILL_ANY) is supported via the all-anchors
  enumeration path (requires to_next_row, dict path) in batch AND
  streaming (windowed re-enumeration + emitted-fingerprint dedup).
  Quantifier-INTERNAL contiguity supports consecutive (default —
  matching SQL MATCH_RECOGNIZE; Flink's oneOrMore defaults relaxed),
  relaxed (Pattern.allow_gaps: gap rows between takes skipped,
  earliest-match takes), and combinations
  (Pattern.allow_combinations — SKIP_TILL_ANY between iterations:
  every increasing subset of takes emits its own match, exponential
  like the reference warns).
- Pattern API facade: Pattern.begin/where/next/followed_by/not_next/
  not_followed_by/one_or_more/times/optional/within + CEP.pattern →
  PatternStream.select (flink-cep Pattern.java / CEP.java /
  PatternStream.java).

Execution model: the NFA core is pure Python over one key's ordered
rows; Spark distributes it per key via ``applyInPandas`` (batch) /
streaming.keyed.json_state_operator (streaming: the row buffer is one
JSON state document per key, carried across batches).
Per-key sequential scan is inherent to CEP — the reference runs the
same way inside its keyed operator; the 100 TB story is key
parallelism, not intra-key parallelism.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from flink_1_16_0_src_spark.streaming.keyed import json_state_operator

Row = dict
Matched = dict  # var name -> list[Row]
Predicate = Callable[[Row, Matched], bool]


@dataclass
class Step:
    """One pattern variable: ``var`` with quantifier {min,max} and a
    DEFINE predicate. ``max=None`` means unbounded (* / +); greedy.

    ``vec`` is an optional VECTORIZED form of the same predicate
    (``pdf -> bool array``), valid only when the predicate ignores
    previously-matched rows. When every step supplies one,
    ``match_recognize`` evaluates each DEFINE once per partition as a
    numpy mask and the NFA scan tests O(1) array entries instead of
    calling a Python predicate per (row, step) — the same
    condition-hoisting MatchCodeGenerator.scala performs when it
    compiles DEFINE clauses.

    ``expr`` is an optional SQL form of the same predicate (a boolean
    expression over the row's columns). When every step of a
    quantifier-free pattern carries one, ``match_recognize`` compiles
    the whole MATCH to a Catalyst lead()-window plan — zero Python,
    whole-stage codegen — the strategy choice Flink's planner makes in
    StreamPhysicalMatchRule, just with a cheaper physical target
    available."""

    var: str
    predicate: Predicate
    min: int = 1
    max: int | None = 1
    vec: Callable | None = None
    expr: str | None = None
    alts: tuple = ()  # alternation group: branch Steps, tried in order
    # relation to the PREVIOUS pattern element (flink-cep Pattern.java):
    # 'strict' = next() — immediately after; 'relaxed' = followedBy() —
    # non-matching events in between are skipped (deterministic: the
    # EARLIEST anchor that lets the rest of the pattern complete wins,
    # the NFA's SKIP_TILL_NEXT semantics); 'relaxed_any' = followedByAny
    # (SKIP_TILL_ANY — every viable anchor emits its own match; batch
    # only, to_next_row only).
    contiguity: str = "strict"
    # negative pattern (Pattern.notNext / notFollowedBy — NFAFactory
    # compiles them to stop states): the predicate must NOT hold.
    # negated+'strict' = notNext (the immediately-following row);
    # negated+'relaxed' = notFollowedBy (no matching row anywhere
    # between the previous element and the next element's anchor).
    # Consumes nothing; cannot be the last element (Flink rejects a
    # trailing notFollowedBy too).
    negated: bool = False
    # quantifier-INTERNAL contiguity (Pattern.oneOrMore: Flink defaults
    # to relaxed between iterations, .consecutive() makes it strict):
    # 'consecutive' = takes are adjacent rows; 'relaxed' = non-matching
    # rows between takes are skipped (each take lands on the EARLIEST
    # matching row after the previous take — deterministic);
    # 'combinations' = Pattern.allowCombinations (SKIP_TILL_ANY between
    # iterations, NFA.java:86): EVERY increasing subset of matching
    # positions is its own take-set, each emitting its own match —
    # exponential like the reference warns; requires the all-anchors
    # enumeration path (to_next_row; within strongly advised). The
    # pattern resumes after the LAST take.
    internal: str = "consecutive"
    # RELUCTANT quantifier (Quantifier.java ConsumingStrategy — the
    # reference's Pattern-API quantifiers are reluctant unless .greedy()
    # is called; MATCH_RECOGNIZE spells it `+?` `*?` `??` `{n,m}?`):
    # candidate take-counts are tried SHORTEST-first instead of
    # longest-first. Feasible takes are identical either way — only the
    # match-selection priority flips. Not combinable with
    # internal='combinations' (the reference rejects greedy there too).
    reluctant: bool = False
    # Pattern.until(condition) (flink-cep Pattern.java:228): stop
    # condition for looping quantifiers (oneOrMore/timesOrMore) — the
    # loop stops accepting events once a row satisfies it, and that row
    # is NOT consumed into the match (NFACompiler ANDs NOT(until) into
    # the looping state's take AND ignore edges, so a gap row
    # satisfying it also terminates the loop). Python-predicate only:
    # a step with ``until`` routes to the row-based NFA paths (the
    # vectorized mask paths' O(1) gap jumps would skip the stop row).
    until: Predicate | None = None

    @staticmethod
    def star(var: str, predicate: Predicate, vec: Callable | None = None,
             expr: str | None = None) -> "Step":
        return Step(var, predicate, 0, None, vec, expr)

    @staticmethod
    def plus(var: str, predicate: Predicate, vec: Callable | None = None,
             expr: str | None = None) -> "Step":
        return Step(var, predicate, 1, None, vec, expr)

    @staticmethod
    def opt(var: str, predicate: Predicate, vec: Callable | None = None,
            expr: str | None = None) -> "Step":
        return Step(var, predicate, 0, 1, vec, expr)

    @staticmethod
    def alternation(*branches: "Step") -> "Step":
        """(A|B) group (NFA.java:86 ordered transitions): the first
        branch whose quantified match lets the REST of the pattern
        complete wins — declaration-order priority, same as the NFA
        trying its transitions in order. Branches keep their own
        variable names; MEASURES address whichever branch matched
        (the other branch's var is absent from the matched set)."""
        assert branches, "alternation needs at least one branch"
        return Step("|".join(b.var for b in branches), None, alts=tuple(branches))


def _needs_any_path(steps: list["Step"]) -> bool:
    """True when the pattern needs the all-anchors/all-subsets
    enumeration (followedByAny SKIP_TILL_ANY contiguity, or
    allowCombinations SKIP_TILL_ANY quantifier internals) — one start
    can yield several matches, so the deterministic single-match scan
    and the vectorized mask path cannot run it."""
    return any(
        b.contiguity == "relaxed_any" or b.internal == "combinations"
        for s in steps
        for b in (s.alts or (s,))
    )


def _match_at(
    rows: list[Row], start: int, steps: list[Step], within: tuple[str, object] | None = None
) -> tuple[Matched, dict[str, list[int]]] | None:
    """Greedy backtracking match anchored at ``start``; returns
    (matched-rows-per-var, matched-INDICES-per-var) for the longest
    match, else None. Step-to-step contiguity per ``Step.contiguity``
    (strict = next, relaxed = followedBy — skipped rows are simply not
    consumed); quantifier-internal contiguity is strict. Negative steps
    (notNext/notFollowedBy) consume nothing and fail the match when
    their predicate holds in the guarded gap. ``within=(ts_col,
    max_delta)`` prunes matches spanning more than max_delta from the
    first matched row (Pattern.within / flink-cep Pattern.java
    windowTime)."""

    def in_window(j: int) -> bool:
        if within is None:
            return True
        ts_col, max_delta = within
        return rows[j][ts_col] - rows[start][ts_col] <= max_delta

    def quant(i: int, step: Step, matched: Matched, idx: dict, cont):
        """Greedy consume of one quantified variable then continue after
        the LAST take; backtracks from longest to ``step.min``. With
        ``internal='relaxed'`` non-matching rows BETWEEN takes are
        skipped (each take lands on the earliest matching row)."""
        matched.setdefault(step.var, [])
        idx.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if not in_window(j):
                break
            if step.until is not None and step.until(rows[j], matched):
                break  # stop row is NOT consumed (Pattern.until)
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                idx[step.var].append(j)
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1  # gap row between iterations
            else:
                break
        full_rows = list(matched[step.var][base_len:])
        full_idx = list(idx[step.var][base_len:])
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            del idx[step.var][base_len:]
            matched[step.var].extend(full_rows[:L])
            idx[step.var].extend(full_idx[:L])
            res = cont(takes[L - 1] + 1 if L else i)
            if res is not None:
                return res
        del matched[step.var][base_len:]
        del idx[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
            del idx[step.var]
        return None

    def rec(i: int, si: int, matched: Matched, idx: dict, neg: Step | None):
        if si == len(steps):
            return (
                {k: list(v) for k, v in matched.items()},
                {k: list(v) for k, v in idx.items()},
            )
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":
                # notNext: the immediately-following row must not match
                if i < len(rows) and step.predicate(rows[i], matched):
                    return None
                return rec(i, si + 1, matched, idx, neg)
            # notFollowedBy: guards the gap before the NEXT element's anchor
            return rec(i, si + 1, matched, idx, step)
        branches = step.alts or (step,)
        j = i
        while True:
            for branch in branches:
                res = quant(
                    j, branch, matched, idx,
                    lambda jj: rec(jj, si + 1, matched, idx, None),
                )
                if res is not None:
                    return res
            # anchor j failed; the first element anchors exactly at start
            if si == 0 or step.contiguity != "relaxed":
                return None
            if j >= len(rows) or not in_window(j):
                return None
            if neg is not None and neg.predicate(rows[j], matched):
                return None  # a notFollowedBy event occurred in the gap
            j += 1

    return rec(start, 0, {}, {}, None)


def _partial_at(rows: list[Row], start: int, steps: list[Step]) -> bool:
    """True if rows[start:] can ALL be consumed by a proper prefix of
    the pattern — i.e. a match could still complete with future rows.
    Drives streaming buffer retention."""

    def one(i: int, si: int, step: Step, matched: Matched) -> bool:
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1
            else:
                break
        open_at_end = j == len(rows) and takes
        while True:
            if len(takes) >= step.min and rec(takes[-1] + 1 if takes else i, si + 1, matched):
                return True
            if open_at_end:
                return True  # quantifier still open at buffer end
            if not takes:
                break
            takes.pop()
            matched[step.var].pop()
        del matched[step.var][base_len:]
        return False

    def rec(i: int, si: int, matched: Matched) -> bool:
        if i == len(rows):
            return True  # everything consumed; pattern still open (full matches are caught by _match_at first)
        if si == len(steps):
            return False  # pattern exhausted but rows remain
        step = steps[si]
        if step.negated:
            # negative steps consume nothing; over-retaining is safe
            return rec(i, si + 1, matched)
        if si > 0 and step.contiguity in ("relaxed", "relaxed_any"):
            # followedBy: every remaining row is skippable while waiting
            # for a future anchor — the prefix up to here matched, so
            # the buffer must be retained (bound it with WITHIN / a
            # time condition, as Flink does for SKIP_TILL_NEXT state)
            return True
        if step.alts:
            return any(one(i, si, b, matched) for b in step.alts)
        return one(i, si, step, matched)

    return rec(start, 0, {})


def _resume_index(start: int, idx: dict[str, list[int]], steps: list[Step], after_match: str) -> int:
    """Next scan position per AFTER MATCH strategy (NFA.java
    AfterMatchSkipStrategy): PAST LAST ROW, TO NEXT ROW, SKIP TO
    FIRST <var>, SKIP TO LAST <var>. Works off the ACTUAL matched row
    indices (required since relaxed contiguity makes matches
    non-contiguous). A target that makes no progress falls back to
    start+1 (Flink raises instead; we document the softer choice)."""
    if after_match == "past_last_row":
        end = max((js[-1] for js in idx.values() if js), default=start) + 1
        return end if end > start else start + 1
    if after_match == "to_next_row":
        return start + 1
    for prefix, last in (("skip_to_first_", False), ("skip_to_last_", True)):
        if after_match.startswith(prefix):
            var = after_match[len(prefix):]
            known = {
                v
                for s in steps
                for v in ([b.var for b in s.alts] if s.alts else [s.var])
            }
            if var not in known:
                raise ValueError(f"unknown skip variable {var!r}")
            js = idx.get(var)
            if not js:  # var matched zero rows (optional / losing alt branch)
                return start + 1
            target = js[-1] if last else js[0]
            return target if target > start else start + 1
    raise ValueError(f"unknown after_match {after_match!r}")


def _match_at_any(
    rows: list[Row], start: int, steps: list[Step], within: tuple[str, object] | None = None
) -> list[Matched]:
    """All-matches twin of ``_match_at`` for patterns containing
    ``relaxed_any`` (followedByAny / SKIP_TILL_ANY) steps: a
    relaxed_any step yields ONE match per viable anchor (every later
    anchor too, not just the earliest), while strict/relaxed steps keep
    their deterministic single-anchor semantics and quantifiers stay
    greedy-first (longest completing take per anchor). Alternation
    branches keep ordered priority. Matches emit in ascending anchor
    order."""
    out: list[Matched] = []

    def in_window(j: int) -> bool:
        if within is None:
            return True
        ts_col, max_delta = within
        return rows[j][ts_col] - rows[start][ts_col] <= max_delta

    def quant(i: int, step: Step, matched: Matched, cont) -> bool:
        if step.internal == "combinations":
            return quant_combinations(i, step, matched, cont)
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < len(rows):
            if not in_window(j):
                break
            if step.until is not None and step.until(rows[j], matched):
                break  # stop row is NOT consumed (Pattern.until)
            if step.predicate(rows[j], matched):
                matched[step.var].append(rows[j])
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1
            else:
                break
        emitted = False
        full_rows = list(matched[step.var][base_len:])
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            matched[step.var].extend(full_rows[:L])
            if cont(takes[L - 1] + 1 if L else i):
                emitted = True
                break  # first completing take-count in preference order
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def quant_combinations(i: int, step: Step, matched: Matched, cont) -> bool:
        """allowCombinations (SKIP_TILL_ANY between iterations): the
        first take anchors at ``i`` (the step's own contiguity decided
        the anchor), every later take may land on ANY later matching
        row — each increasing subset of size ≥ min (≤ max) emits its
        own continuation. Exponential by design (NFA.java warns the
        same); the within-window bound caps the candidate span."""
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        emitted = False

        def dfs(last: int, count: int) -> None:
            nonlocal emitted
            if count >= step.min and cont(last + 1):
                emitted = True
            if step.max is not None and count >= step.max:
                return
            k = last + 1
            while k < len(rows) and in_window(k):
                if step.until is not None and step.until(rows[k], matched):
                    break  # stop row is NOT consumed (Pattern.until)
                if step.predicate(rows[k], matched):
                    matched[step.var].append(rows[k])
                    dfs(k, count + 1)
                    matched[step.var].pop()
                k += 1

        if step.min == 0 and cont(i):
            emitted = True
        if (
            i < len(rows)
            and in_window(i)
            and not (step.until is not None and step.until(rows[i], matched))
            and step.predicate(rows[i], matched)
        ):
            matched[step.var].append(rows[i])
            dfs(i, 1)
            matched[step.var].pop()
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def rec(i: int, si: int, matched: Matched, neg: Step | None) -> bool:
        if si == len(steps):
            out.append({k: list(v) for k, v in matched.items()})
            return True
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":
                if i < len(rows) and step.predicate(rows[i], matched):
                    return False
                return rec(i, si + 1, matched, neg)
            return rec(i, si + 1, matched, step)
        branches = step.alts or (step,)
        any_mode = step.contiguity == "relaxed_any" and si > 0
        emitted = False
        j = i
        while True:
            for branch in branches:
                ok = quant(j, branch, matched, lambda jj: rec(jj, si + 1, matched, None))
                if ok:
                    emitted = True
                    break  # ordered branch priority: first matching branch per anchor
            if emitted and not any_mode:
                return True  # deterministic step: earliest completing anchor wins
            if si == 0 or step.contiguity == "strict":
                return emitted
            if j >= len(rows) or not in_window(j):
                return emitted
            if neg is not None and neg.predicate(rows[j], matched):
                return emitted  # notFollowedBy event poisons later anchors
            j += 1

    rec(start, 0, {}, None)
    return out


def match_sequence(
    rows: list[Row],
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> list[Matched]:
    """Run the pattern over one key's ordered rows. ``after_match``:
    'past_last_row' (non-overlapping, Flink's default), 'to_next_row'
    (resume at start+1), 'skip_to_first_<var>' / 'skip_to_last_<var>'
    (resume at that var's first/last matched row).
    ``within=(ts_col, max_delta)`` bounds a match's time span.

    Patterns containing a ``relaxed_any`` (followedByAny) step emit ALL
    viable-anchor matches per start and therefore require
    ``after_match='to_next_row'`` (NO_SKIP-style enumeration — the only
    coherent skip mode when one start yields several matches; Flink
    couples SKIP_TILL_ANY with NO_SKIP the same way)."""
    has_any = _needs_any_path(steps)
    out: list[Matched] = []
    i = 0
    if has_any:
        if after_match != "to_next_row":
            raise ValueError(
                "followedByAny/allowCombinations patterns require "
                "after_match='to_next_row'"
            )
        while i < len(rows):
            out.extend(_match_at_any(rows, i, steps, within))
            i += 1
        return out
    while i < len(rows):
        m = _match_at(rows, i, steps, within)
        if m is not None:
            matched, idx = m
            out.append(matched)
            i = _resume_index(i, idx, steps, after_match)
        else:
            i += 1
    return out


def _longest_partial_at(
    rows: list[Row], start: int, steps: list[Step],
    within: tuple[str, object] | None = None,
) -> Matched | None:
    """Longest proper-prefix match anchored at ``start`` — the
    matched-so-far map a timed-out partial carries (what Flink hands to
    ``TimedOutPartialMatchHandler.processTimedOutMatch``,
    flink-libraries/flink-cep/src/main/java/org/apache/flink/cep/
    functions/TimedOutPartialMatchHandler.java:75). Tries the longest
    step prefix first; returns None when not even the first element
    matches at ``start`` (no partial existed, nothing to time out)."""
    for k in range(len(steps) - 1, 0, -1):
        prefix = steps[:k]
        if all(s.negated for s in prefix):
            continue
        m = _match_at(rows, start, prefix, within)
        if m is not None and m[0]:
            return m[0]
    return None


def _longest_partial_at_any(
    rows: list[Row], start: int, steps: list[Step],
    within: tuple[str, object] | None = None,
) -> Matched | None:
    """Any-path twin of ``_longest_partial_at``: the longest
    proper-prefix match anchored at ``start`` for a pattern containing
    followedByAny/allowCombinations steps. A prefix may itself be
    deterministic (the any step can sit later in the pattern) — route
    each prefix to the matching evaluator. Returns the first match of
    the longest completable prefix (the buffered rows a pruned NFA
    computation state carries)."""
    for k in range(len(steps) - 1, 0, -1):
        prefix = steps[:k]
        if all(s.negated for s in prefix):
            continue
        if _needs_any_path(prefix):
            ms = _match_at_any(rows, start, prefix, within)
            for m0 in ms:
                if m0:
                    return m0
        else:
            m = _match_at(rows, start, prefix, within)
            if m is not None and m[0]:
                return m[0]
    return None


def match_sequence_with_timeouts(
    rows: list[Row],
    steps: list[Step],
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> tuple[list[Matched], list[tuple[Matched, object]]]:
    """``match_sequence`` plus Flink's timed-out-partial second output
    (TimedOutPartialMatchHandler.java:75, fired from CepOperator's
    advanceTime when the NFA prunes a computation state on within()
    expiry): partials that start but cannot complete inside the window
    surface as ``(partial_matched, timeout_ts)`` pairs instead of being
    silently dropped — payment-timeout / abandoned-cart patterns read
    this stream as their primary output.

    Bounded input behaves like Flink's end-of-job +inf watermark: every
    anchor that begins a partial and never completes times out, with
    ``timeout_ts = anchor_ts + within`` (when the match would stop
    being completable). Complete matches consume rows per
    ``after_match`` exactly as in ``match_sequence``; timed-out anchors
    consume nothing (the NFA just drops the computation state)."""
    if within is None:
        raise ValueError("timeout enumeration requires within= (Pattern.within)")
    ts_col, delta = within
    matches: list[Matched] = []
    timeouts: list[tuple[Matched, object]] = []
    if _needs_any_path(steps):
        # followedByAny / allowCombinations (r12, VERDICT r11 #5):
        # anchors stay live until window expiry (NFA.java:86 timeout
        # branch prunes them at advanceTime) — an anchor with NO
        # completing enumeration but a viable prefix times out with its
        # buffered longest-prefix partial at anchor_ts + within. The
        # any-path couples with to_next_row (same rule as
        # match_sequence), so anchors partition into the two outputs
        # exactly as on the deterministic path.
        if after_match != "to_next_row":
            raise ValueError(
                "followedByAny/allowCombinations patterns require "
                "after_match='to_next_row'"
            )
        for i in range(len(rows)):
            ms = _match_at_any(rows, i, steps, within)
            if ms:
                matches.extend(ms)
                continue
            partial = _longest_partial_at_any(rows, i, steps, within)
            if partial is not None:
                timeouts.append((partial, rows[i][ts_col] + delta))
        return matches, timeouts
    i = 0
    while i < len(rows):
        m = _match_at(rows, i, steps, within)
        if m is not None:
            matched, idx = m
            matches.append(matched)
            i = _resume_index(i, idx, steps, after_match)
            continue
        partial = _longest_partial_at(rows, i, steps, within)
        if partial is not None:
            timeouts.append((partial, rows[i][ts_col] + delta))
        i += 1
    return matches, timeouts


def _next_true_tables(masks: list, n: int) -> list:
    """Per-step next-true jump tables: for step ``si``,
    ``nt[si] = (branch_tables, union_table)`` where ``table[j]`` is the
    smallest ``k ≥ j`` with the mask true (``n`` = none; tables have
    ``n+1`` entries so ``table[n]`` is a valid sentinel read). Built in
    O(n) numpy (reverse cumulative min) and converted to plain lists —
    the NFA's relaxed-contiguity scans then JUMP over non-matching gaps
    in O(1) instead of stepping row by row, which is the hot loop when
    matches are sparse (most events sit between pattern elements)."""
    import numpy as np

    def table(m) -> list[int]:
        arr = np.where(np.asarray(m, dtype=bool), np.arange(n), n)
        nt = np.minimum.accumulate(arr[::-1])[::-1] if n else arr
        return np.append(nt, n).tolist()

    out = []
    for m in masks:
        if isinstance(m, tuple):
            bts = tuple(table(b) for b in m)
            union = [min(v) for v in zip(*bts)]
            out.append((bts, union))
        else:
            t = table(m)
            out.append(((t,), t))
    return out


def _match_at_masks(
    masks: list, n: int, start: int, steps: list[Step], ts=None, max_delta=None,
    nt: list | None = None,
) -> dict[str, list[int]] | None:
    """Mask-based twin of ``_match_at``: identical greedy backtracking
    (contiguity modes and negative steps included), but each predicate
    test is an O(1) array index and — given ``nt`` jump tables from
    ``_next_true_tables`` — relaxed-contiguity gaps are skipped in O(1)
    instead of scanned. ``matched`` holds row INDICES; callers
    materialize rows for actual matches only."""
    if nt is None:
        nt = _next_true_tables(masks, n)

    def in_window(j: int) -> bool:
        return max_delta is None or ts[j] - ts[start] <= max_delta

    def quant(i: int, step: Step, mask, table, matched: dict, cont):
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < n:
            if not in_window(j):
                break
            if mask[j]:
                matched[step.var].append(j)
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                # jump to the next take candidate (window re-checked at
                # the loop head; skipped rows are non-matching, so the
                # relaxed semantics are identical)
                j = table[j]
            else:
                break
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            matched[step.var].extend(takes[:L])
            res = cont(takes[L - 1] + 1 if L else i)
            if res is not None:
                return res
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return None

    def rec(i: int, si: int, matched: dict, neg_mask) -> dict | None:
        if si == len(steps):
            return {k: list(v) for k, v in matched.items()}
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":  # notNext
                if i < n and masks[si][i]:
                    return None
                return rec(i, si + 1, matched, neg_mask)
            return rec(i, si + 1, matched, masks[si])  # notFollowedBy
        branches = step.alts or (step,)
        bmasks = masks[si] if step.alts else (masks[si],)
        btables, union = nt[si]
        # gap-jumping is sound only when every branch must CONSUME a row
        # at the anchor (min ≥ 1): a min-0 branch's continuation runs at
        # each scanned position, and a strict successor is
        # position-sensitive — those anchors cannot be skipped
        can_jump = all(b.min >= 1 for b in branches)
        j = i
        while True:
            for branch, bmask, btable in zip(branches, bmasks, btables):
                res = quant(
                    j, branch, bmask, btable, matched,
                    lambda jj: rec(jj, si + 1, matched, None),
                )
                if res is not None:
                    return res
            if si == 0 or step.contiguity != "relaxed":
                return None
            if j >= n or not in_window(j):
                return None
            if neg_mask is None and can_jump:
                # no notFollowedBy guard in flight: only positions where
                # some branch can take are viable anchors — jump there
                # (the loop head's failure checks re-validate bounds and
                # window at the new position)
                j = union[j + 1]
                continue
            if neg_mask is not None and neg_mask[j]:
                return None
            j += 1

    return rec(start, 0, {}, None)


def match_sequence_masks(
    masks: list, n: int, steps: list[Step], after_match: str = "past_last_row",
    ts=None, max_delta=None,
) -> list[dict[str, list[int]]]:
    """Mask-based twin of ``match_sequence`` (index output).

    Quantifier-free patterns (every step exactly {1,1}) short-circuit
    to pure numpy: anchors = AND of the steps' masks shifted into
    alignment — the Python scan then visits only anchor positions
    (actual matches), not every row."""
    if _needs_any_path(steps):
        raise NotImplementedError(
            "followedByAny/allowCombinations run on the dict-row path (match_sequence)"
        )
    if after_match in ("past_last_row", "to_next_row") and all(
        s.min == 1 and s.max == 1 and not s.alts
        and s.contiguity == "strict" and not s.negated
        for s in steps
    ):
        import numpy as np

        L = len(steps)
        if n < L:
            return []
        anchors = masks[0][: n - L + 1].copy()
        for si in range(1, L):
            anchors &= masks[si][si : n - L + 1 + si]
        if max_delta is not None:
            anchors &= (ts[L - 1 : n] - ts[: n - L + 1]) <= max_delta
        out = []
        prev_end = 0
        for i in np.nonzero(anchors)[0]:
            if after_match == "past_last_row" and i < prev_end:
                continue  # overlaps the previous match
            out.append({s.var: [i + si] for si, s in enumerate(steps)})
            prev_end = i + L
        return out
    lmasks, nt, anchor = _prepare_masks(masks, n, steps)
    out = []
    i = 0
    while i < n:
        if anchor is not None:
            i = anchor[i]
            if i >= n:
                break
        m = _match_at_masks(lmasks, n, i, steps, ts, max_delta, nt)
        if m is not None:
            out.append(m)
            i = _resume_index(i, m, steps, after_match)
        else:
            i += 1
    return out


def _prepare_masks(masks: list, n: int, steps: list[Step]):
    """(list-form masks, jump tables, anchor table) for the generic
    mask scans.

    Masks convert numpy→list (the NFA walk does per-element scalar
    reads, where Python list indexing beats numpy scalar indexing ~3×);
    jump tables come from ``_next_true_tables``. When the pattern's
    FIRST element must consume a row (min ≥ 1, not negated), a match —
    and equally a proper-prefix partial — can only anchor where that
    element's mask is true, so the top-level scan jumps straight
    between anchor candidates via ``anchor[i]`` (None = no skipping:
    a later step could consume row 0)."""
    import numpy as np

    lmasks = [
        tuple(np.asarray(b).tolist() for b in m) if isinstance(m, tuple)
        else np.asarray(m).tolist()
        for m in masks
    ]
    nt = _next_true_tables(lmasks, n)
    s0 = steps[0]
    skip_ok = not s0.negated and (
        all(b.min >= 1 for b in s0.alts) if s0.alts else s0.min >= 1
    )
    return lmasks, nt, (nt[0][1] if skip_ok else None)


def _partial_at_masks(masks: list, n: int, start: int, steps: list[Step]) -> bool:
    """Mask-based twin of ``_partial_at`` (streaming buffer retention):
    True if rows[start:] can all be consumed by a proper prefix of the
    pattern. Valid under the ``vec`` contract (predicates ignore match
    state), which is exactly when masks exist."""

    def one(i: int, si: int, step: Step, mask) -> bool:
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < n:
            if mask[j]:
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j += 1
            else:
                break
        open_at_end = j == n and bool(takes)
        while True:
            if len(takes) >= step.min and rec(takes[-1] + 1 if takes else i, si + 1):
                return True
            if open_at_end:
                return True  # quantifier still open at buffer end
            if not takes:
                return False
            takes.pop()

    def rec(i: int, si: int) -> bool:
        if i == n:
            return True  # everything consumed; pattern still open
        if si == len(steps):
            return False  # pattern exhausted but rows remain
        step = steps[si]
        if step.negated:
            return rec(i, si + 1)
        if si > 0 and step.contiguity in ("relaxed", "relaxed_any"):
            return True  # followedBy: remaining rows are skippable
        if step.alts:
            return any(
                one(i, si, b, bm) for b, bm in zip(step.alts, masks[si])
            )
        return one(i, si, step, masks[si])

    return rec(start, 0)


def _longest_partial_at_masks(
    masks: list, n: int, start: int, steps: list[Step], ts=None, max_delta=None,
    nt: list | None = None,
) -> dict[str, list[int]] | None:
    """Mask twin of ``_longest_partial_at`` — longest proper-prefix
    match (as row indices) anchored at ``start`` for the timed-out
    side output."""
    for k in range(len(steps) - 1, 0, -1):
        prefix = steps[:k]
        if all(s.negated for s in prefix):
            continue
        m = _match_at_masks(
            masks[:k], n, start, prefix, ts, max_delta,
            nt[:k] if nt is not None else None,
        )
        if m:
            return m
    return None


def match_sequence_masks_with_timeouts(
    masks: list, n: int, steps: list[Step], after_match: str = "past_last_row",
    ts=None, max_delta=None,
) -> tuple[list[dict[str, list[int]]], list[tuple[dict[str, list[int]], int]]]:
    """Mask twin of ``match_sequence_with_timeouts``: returns
    (match index-dicts, [(partial index-dict, anchor row index)]) —
    the caller derives ``timeout_ts`` from the anchor row."""
    if max_delta is None:
        raise ValueError("timeout enumeration requires the within bound")
    # a partial anchors under the same first-element condition as a
    # match (prefixes share steps[0]), so anchor skipping is valid for
    # the timeout enumeration too
    lmasks, nt, anchor = _prepare_masks(masks, n, steps)
    matches: list[dict[str, list[int]]] = []
    timeouts: list[tuple[dict[str, list[int]], int]] = []
    i = 0
    while i < n:
        if anchor is not None:
            i = anchor[i]
            if i >= n:
                break
        m = _match_at_masks(lmasks, n, i, steps, ts, max_delta, nt)
        if m is not None:
            matches.append(m)
            i = _resume_index(i, m, steps, after_match)
            continue
        partial = _longest_partial_at_masks(lmasks, n, i, steps, ts, max_delta, nt)
        if partial is not None:
            timeouts.append((partial, i))
        i += 1
    return matches, timeouts


def _match_at_any_masks(
    masks: list, n: int, start: int, steps: list[Step], ts=None, max_delta=None,
    nt: list | None = None,
) -> list[dict[str, list[int]]]:
    """Mask twin of ``_match_at_any`` (followedByAny / SKIP_TILL_ANY /
    allowCombinations all-matches enumeration): identical anchor and
    emission semantics, index output, hoisted masks + jump tables.
    Valid under the ``vec`` contract (predicates ignore match state)."""
    if nt is None:
        nt = _next_true_tables(masks, n)
    out: list[dict[str, list[int]]] = []

    def in_window(j: int) -> bool:
        return max_delta is None or ts[j] - ts[start] <= max_delta

    def quant(i: int, step: Step, mask, table, matched: dict, cont) -> bool:
        if step.internal == "combinations":
            return quant_combinations(i, step, mask, table, matched, cont)
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        takes: list[int] = []
        j = i
        while (step.max is None or len(takes) < step.max) and j < n:
            if not in_window(j):
                break
            if mask[j]:
                matched[step.var].append(j)
                takes.append(j)
                j += 1
            elif step.internal == "relaxed" and takes:
                j = table[j]  # jump to the next take candidate
            else:
                break
        emitted = False
        lengths = (
            range(step.min, len(takes) + 1)
            if step.reluctant
            else range(len(takes), step.min - 1, -1)
        )
        for L in lengths:
            del matched[step.var][base_len:]
            matched[step.var].extend(takes[:L])
            if cont(takes[L - 1] + 1 if L else i):
                emitted = True
                break  # first completing take-count in preference order
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def quant_combinations(i: int, step: Step, mask, table, matched: dict, cont) -> bool:
        matched.setdefault(step.var, [])
        base_len = len(matched[step.var])
        emitted = False

        def dfs(last: int, count: int) -> None:
            nonlocal emitted
            if count >= step.min and cont(last + 1):
                emitted = True
            if step.max is not None and count >= step.max:
                return
            k = table[last + 1]  # next matching row — non-matching rows
            while k < n and in_window(k):  # can't be takes, jump them
                matched[step.var].append(k)
                dfs(k, count + 1)
                matched[step.var].pop()
                k = table[k + 1]

        if step.min == 0 and cont(i):
            emitted = True
        if i < n and in_window(i) and mask[i]:
            matched[step.var].append(i)
            dfs(i, 1)
            matched[step.var].pop()
        del matched[step.var][base_len:]
        if not matched[step.var]:
            del matched[step.var]
        return emitted

    def rec(i: int, si: int, matched: dict, neg_mask) -> bool:
        if si == len(steps):
            out.append({k: list(v) for k, v in matched.items()})
            return True
        step = steps[si]
        if step.negated:
            if step.contiguity == "strict":
                if i < n and masks[si][i]:
                    return False
                return rec(i, si + 1, matched, neg_mask)
            return rec(i, si + 1, matched, masks[si])
        branches = step.alts or (step,)
        bmasks = masks[si] if step.alts else (masks[si],)
        btables, union = nt[si]
        any_mode = step.contiguity == "relaxed_any" and si > 0
        can_jump = all(b.min >= 1 for b in branches)  # see _match_at_masks
        emitted = False
        j = i
        while True:
            for branch, bmask, btable in zip(branches, bmasks, btables):
                ok = quant(
                    j, branch, bmask, btable, matched,
                    lambda jj: rec(jj, si + 1, matched, None),
                )
                if ok:
                    emitted = True
                    break  # ordered branch priority
            if emitted and not any_mode:
                return True  # deterministic step: earliest anchor wins
            if si == 0 or step.contiguity == "strict":
                return emitted
            if j >= n or not in_window(j):
                return emitted
            if neg_mask is None and can_jump:
                j = union[j + 1]
                continue
            if neg_mask is not None and neg_mask[j]:
                return emitted  # notFollowedBy poisons later anchors
            j += 1

    rec(start, 0, {}, None)
    return out


def match_sequence_any_masks(
    masks: list, n: int, steps: list[Step], after_match: str = "to_next_row",
    ts=None, max_delta=None,
) -> list[dict[str, list[int]]]:
    """Mask twin of the ``match_sequence`` any-path: one
    ``_match_at_any_masks`` enumeration per start position (the
    to_next_row semantics SKIP_TILL_ANY couples with)."""
    if after_match != "to_next_row":
        raise ValueError(
            "followedByAny/allowCombinations patterns require "
            "after_match='to_next_row'"
        )
    lmasks, nt, anchor = _prepare_masks(masks, n, steps)
    out: list[dict[str, list[int]]] = []
    i = 0
    while i < n:
        if anchor is not None:
            i = anchor[i]
            if i >= n:
                break
        out.extend(_match_at_any_masks(lmasks, n, i, steps, ts, max_delta, nt))
        i += 1
    return out


def compute_step_masks(pdf: pd.DataFrame, steps: list[Step]) -> list:
    """Evaluate every step's vectorized predicate ONCE over the batch
    (alternation branches each get their own mask) — the
    condition-hoisting MatchCodeGenerator.scala performs when compiling
    DEFINE clauses; the NFA walk then tests O(1) array entries."""
    return [
        tuple(b.vec(pdf) for b in s.alts) if s.alts else s.vec(pdf)
        for s in steps
    ]


def steps_all_vec(steps: list[Step]) -> bool:
    """True when every step (or all its alternation branches) carries a
    vectorized predicate form. A step with an ``until`` stop condition
    opts out: the mask paths' O(1) relaxed-gap jumps would hop over the
    stop row without evaluating it (see Step.until)."""
    return all(
        (s.vec is not None or (s.alts and all(b.vec is not None for b in s.alts)))
        and s.until is None
        for s in steps
    )


def steps_vectorizable(steps: list[Step]) -> bool:
    """True when every step carries a ``vec`` and the pattern runs on
    the deterministic NFA path (the any-path has its own mask twin,
    ``_match_at_any_masks``)."""
    return steps_all_vec(steps) and not _needs_any_path(steps)


# ---- MEASURES helpers (reference: MatchCodeGenerator.scala measures) ----


def first(matched: Matched, var: str, col: str):
    return matched[var][0][col] if matched.get(var) else None


def last(matched: Matched, var: str, col: str):
    return matched[var][-1][col] if matched.get(var) else None


def count_of(matched: Matched, var: str) -> int:
    return len(matched.get(var, []))


def sum_of(matched: Matched, var: str, col: str) -> float:
    return float(sum(r[col] for r in matched.get(var, [])))


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: str | list[str],
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
    measures_cols: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Batch MATCH_RECOGNIZE: one output row per match, carrying the
    partition keys + computed measures. Distributed per partition key
    (single shuffle), NFA scan inside each key. ``within`` bounds the
    match's time span (Pattern.within parity).

    ``measures_cols`` is the declarative measure form ``{out_name:
    (var, col)}``. When it is given, every step is quantifier-free
    with a SQL ``expr``, and the skip mode permits it (TO NEXT ROW, or
    a 1-step pattern), the MATCH compiles to a lead()-window Catalyst
    plan — no Python anywhere, one shuffle, whole-stage codegen."""

    for s in steps:
        if s.reluctant and s.internal == "combinations":
            raise ValueError(
                f"step {s.var!r}: reluctant quantifier cannot combine with "
                "allowCombinations (Quantifier.java rejects the pairing too)"
            )
    compilable = (
        measures_cols is not None
        and all(
            s.min == 1 and s.max == 1 and s.expr is not None
            and s.contiguity == "strict" and not s.negated
            for s in steps
        )
        and (after_match == "to_next_row" or len(steps) == 1)
        and (within is None or isinstance(within[1], str))
    )
    if compilable:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
        w = W.partitionBy(*partition_by).orderBy(*order_cols)
        var_idx = {s.var: i for i, s in enumerate(steps)}
        cond = None
        for i, s in enumerate(steps):
            m = F.expr(s.expr)
            mi = m if i == 0 else F.lead(m, i).over(w)
            cond = mi if cond is None else cond & mi
        if within is not None:
            ts_col, max_delta = within
            span_ok = (
                F.lead(ts_col, len(steps) - 1).over(w) - F.col(ts_col)
                <= F.expr(f"INTERVAL {max_delta}")
            ) if len(steps) > 1 else F.lit(True)
            cond = cond & span_ok
        sel = [F.col(k) for k in partition_by]
        for name, (var, col) in measures_cols.items():
            i = var_idx[var]
            c = F.col(col) if i == 0 else F.lead(col, i).over(w)
            sel.append(c.alias(name))
        return (
            df.select(*sel, cond.alias("__cep_ok"))
            .where(F.col("__cep_ok"))
            .drop("__cep_ok")
        )

    vectorized = steps_all_vec(steps)
    any_path = _needs_any_path(steps)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="stable")  # str or list both fine
        keys = {k: pdf.iloc[0][k] for k in partition_by}
        cols = [f.name for f in output_schema.fields]
        out = []
        if vectorized:
            n = len(pdf)
            masks = compute_step_masks(pdf, steps)
            ts = pdf[within[0]].to_numpy() if within else None
            md = within[1] if within else None
            if md is not None and not isinstance(md, (int, float)):
                # numpy 2 rejects timedelta64 <= datetime.timedelta —
                # normalize any str/timedelta bound to timedelta64
                md = pd.Timedelta(md).to_timedelta64()
            idx_matches = (
                match_sequence_any_masks(masks, n, steps, after_match, ts, md)
                if any_path
                else match_sequence_masks(masks, n, steps, after_match, ts, md)
            )
            # materialize dict rows only for rows inside some match
            hit = sorted({j for m in idx_matches for v in m.values() for j in v})
            recs = dict(zip(hit, pdf.iloc[hit].to_dict("records"))) if hit else {}
            for im in idx_matches:
                matched = {var: [recs[j] for j in js] for var, js in im.items()}
                rec = dict(keys)
                for name, fmeas in measures.items():
                    rec[name] = fmeas(matched)
                out.append(rec)
        else:
            rows = pdf.to_dict("records")
            for matched in match_sequence(rows, steps, after_match, within):
                rec = dict(keys)
                for name, fmeas in measures.items():
                    rec[name] = fmeas(matched)
                out.append(rec)
        return pd.DataFrame(out, columns=cols)

    return df.groupBy(*partition_by).applyInPandas(fn, output_schema)


def _combined_schema(output_schema: StructType, timeout_schema: StructType) -> StructType:
    """Union schema for the match+timeout multiplexed output: main
    fields, then timeout-only fields, then the ``__side`` tag — the
    Spark analog of Flink's OutputTag side output (one stream, split by
    a filter; same convention as the late-data side output)."""
    from pyspark.sql.types import StringType, StructField

    fields = list(output_schema.fields)
    have = {f.name for f in fields}
    for f in timeout_schema.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
    fields.append(StructField("__side", StringType(), False))
    return StructType(fields)


def match_recognize_with_timeouts(
    df: DataFrame,
    partition_by: list[str],
    order_by: str | list[str],
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    timeout_measures: dict[str, Callable[[Matched, object], object]],
    timeout_schema: StructType,
    after_match: str = "past_last_row",
    within: tuple[str, object] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Batch ``PatternStream.select(selectFn, timeoutFn)`` parity
    (PatternStream.java select with PatternTimeoutFunction + OutputTag;
    timed-out partials per TimedOutPartialMatchHandler.java:75):
    returns ``(matches_df, timeouts_df)``. ONE applyInPandas pass
    computes both sides into a ``__side``-tagged union frame, so the
    shuffle/NFA scan is not duplicated; the returned frames are filters
    of it. ``timeout_measures`` callables receive
    ``(partial_matched, timeout_ts)`` — Flink's PatternTimeoutFunction
    signature."""
    combined = _combined_schema(output_schema, timeout_schema)
    cols = [f.name for f in combined.fields]
    vectorized = steps_vectorizable(steps)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="stable")
        keys = {k: pdf.iloc[0][k] for k in partition_by}
        if vectorized:
            # hoisted-mask NFA: each DEFINE evaluates once per batch,
            # match/partial scans test numpy entries; rows materialize
            # for matched indices only
            n = len(pdf)
            masks = compute_step_masks(pdf, steps)
            ts_col, delta = within
            md = delta
            if md is not None and not isinstance(md, (int, float)):
                md = pd.Timedelta(md).to_timedelta64()
            ts_arr = pdf[ts_col].to_numpy()
            hit_idx, tout_idx = match_sequence_masks_with_timeouts(
                masks, n, steps, after_match, ts_arr, md
            )
            need = sorted(
                {j for m in hit_idx for v in m.values() for j in v}
                | {j for m, _a in tout_idx for v in m.values() for j in v}
                | {a for _m, a in tout_idx}
            )
            recs = dict(zip(need, pdf.iloc[need].to_dict("records"))) if need else {}
            hits = [
                {v: [recs[j] for j in js] for v, js in m.items()} for m in hit_idx
            ]
            touts = [
                (
                    {v: [recs[j] for j in js] for v, js in m.items()},
                    recs[a][ts_col] + (delta if not isinstance(delta, str)
                                       else pd.Timedelta(delta)),
                )
                for m, a in tout_idx
            ]
        else:
            rows = pdf.to_dict("records")
            hits, touts = match_sequence_with_timeouts(rows, steps, after_match, within)
        out = []
        for matched in hits:
            rec = dict.fromkeys(cols)  # None-fill the other side's columns
            rec.update(keys)
            for name, fmeas in measures.items():
                rec[name] = fmeas(matched)
            rec["__side"] = "match"
            out.append(rec)
        for partial, tts in touts:
            rec = dict.fromkeys(cols)
            rec.update(keys)
            for name, fmeas in timeout_measures.items():
                rec[name] = fmeas(partial, tts)
            rec["__side"] = "timeout"
            out.append(rec)
        return pd.DataFrame(out, columns=cols).astype(object).where(
            lambda x: x.notna(), None
        )

    tagged = df.groupBy(*partition_by).applyInPandas(fn, combined)
    main = tagged.where(tagged["__side"] == "match").select(
        *[f.name for f in output_schema.fields]
    )
    touts = tagged.where(tagged["__side"] == "timeout").select(
        *[f.name for f in timeout_schema.fields]
    )
    return main, touts


def match_recognize_stream(
    sdf: DataFrame,
    partition_by: list[str],
    order_by: str,
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    output_schema: StructType,
    after_match: str = "past_last_row",
    within: str | None = None,
    secondary_order: str | None = None,
    timeout_measures: dict[str, Callable[[Matched, object], object]] | None = None,
    timeout_schema: StructType | None = None,
    prev_next: list[tuple[str, str, str, int]] | None = None,
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE: per-key row buffer carried in state
    (JSON rows), matched greedily each batch; matched prefixes are
    discarded, the unmatched tail is retained (bounded by the longest
    open partial match).

    ``prev_next``: ``[(field, 'PREV'|'NEXT', col, offset), ...]`` —
    PREV/NEXT helper fields for SQL-text DEFINEs, materialized on each
    buffered row as an index offset into the key's sorted buffer and
    RECOMPUTED every batch (so a NEXT that was null converges to the
    batch value once the successor arrives — the same deferred
    evaluation IterativeConditionRunner.java:31 gets from the NFA's
    SharedBuffer). Boundary rule: a neighbor that left the buffer (a
    consumed match prefix, a pruned row) reads as NULL — exact for the
    one-batch availableNow drain, documented divergence for
    cross-batch references into consumed prefixes.

    ``within`` (Flink's WITHIN clause / Pattern.within, e.g.
    ``'10 minutes'`` — requires a TIMESTAMP ``order_by``): bounds both
    the match span AND the state: an open partial whose span already
    exceeds the bound is pruned instead of retained. Without it a
    never-completing relaxed partial (followedBy waiting forever)
    would pin the buffer AND block the scan from ever reaching later
    matches — the same unbounded-state failure Flink documents for
    patterns without windowTime; production relaxed patterns should
    always pass it.

    ``timeout_measures``/``timeout_schema`` (requires ``within``):
    Flink's timed-out-partial side output
    (TimedOutPartialMatchHandler.java:75, fired from CepOperator's
    advanceTime prune) — partials pruned on within() expiry emit a row
    instead of vanishing. The returned stream is then the ``__side``-
    tagged union of matches and timeouts (ONE stateful query — the
    Spark analog of an OutputTag side output; split with a filter).
    Open partials at drain end stay in state, NOT timed out — the
    stream has not ended, standard watermark semantics."""
    if timeout_measures is not None:
        if within is None or timeout_schema is None:
            raise ValueError("timeout_measures requires within= and timeout_schema=")
    if prev_next and _needs_any_path(steps):
        raise NotImplementedError(
            "streaming PREV/NEXT with followedByAny: the all-anchors "
            "path re-enumerates through the vectorized batch matcher, "
            "which has no in-buffer helper fields"
        )
    emit_schema = (
        _combined_schema(output_schema, timeout_schema)
        if timeout_measures is not None
        else output_schema
    )

    def run(step):
        # a union frame keeps None (not NaN) in the other side's columns
        return json_state_operator(
            sdf, partition_by, step, emit_schema, sort_by=order_by,
            none_for_nan=timeout_measures is not None,
        )

    # secondary_order makes same-timestamp ordering (and therefore
    # which rows count as "later" for relaxed_any matching)
    # arrival-independent — pass a unique column (e.g. event id) so
    # a regenerated fixture with ts ties cannot flake
    def buffer_key(r):
        return (r[order_by], r[secondary_order]) if secondary_order else r[order_by]

    if _needs_any_path(steps):
        # followedByAny/allowCombinations (SKIP_TILL_ANY) stream through a different
        # state shape: anchors stay live after matching (one anchor
        # emits a match per viable continuation), so the consume-prefix
        # buffer of the deterministic path cannot express it
        if within is None or after_match != "to_next_row":
            raise NotImplementedError(
                "streaming followedByAny requires within= (bounds the "
                "re-match window / state) and after_match='to_next_row' "
                "(the only coherent skip mode for all-anchors emission — "
                "Flink couples SKIP_TILL_ANY with NO_SKIP the same way)"
            )
        return run(_stream_any_step(
            partition_by, order_by, steps, measures, within, buffer_key, timeout_measures
        ))
    vectorized = steps_vectorizable(steps)
    delta = pd.Timedelta(within) if within is not None else None

    def step(key, rows, buf):
        use_ts = delta is not None
        buf = (buf or []) + rows
        if use_ts:
            for d in buf:
                d[order_by] = pd.Timestamp(d[order_by])
        buf.sort(key=buffer_key)
        if prev_next:
            # PREV/NEXT = index offsets into the sorted per-key buffer,
            # refreshed each batch; out-of-buffer neighbors are NULL
            n = len(buf)
            for i, r in enumerate(buf):
                for name, fn_kind, col, off in prev_next:
                    j = i - off if fn_kind == "PREV" else i + off
                    r[name] = buf[j][col] if 0 <= j < n else None
        wt = (order_by, delta) if use_ts else None
        if vectorized and buf:
            # hoisted-mask NFA over the buffered rows: every DEFINE
            # evaluates once per micro-batch as a numpy mask (the
            # MatchCodeGenerator.scala hoisting, applied to the stream
            # buffer); the scan below then tests O(1) array entries and
            # materializes rows only for emitted matches
            bdf = pd.DataFrame(buf)
            nbuf = len(buf)
            bmasks, bnt, anchor = _prepare_masks(
                compute_step_masks(bdf, steps), nbuf, steps
            )
            ts_arr = bdf[order_by].to_numpy() if use_ts else None
            md = delta.to_timedelta64() if use_ts else None

            def skip_to_anchor(i):
                # rows that cannot satisfy the pattern's first element
                # can neither start a match nor a partial — jump over
                # them (and let the caller drop them from the buffer)
                return anchor[i] if anchor is not None and i < nbuf else i

            def try_match(i):
                m = _match_at_masks(bmasks, nbuf, i, steps, ts_arr, md, bnt)
                if m is None:
                    return None
                return {v: [buf[j] for j in js] for v, js in m.items()}, m

            def has_partial(i):
                return _partial_at_masks(bmasks, nbuf, i, steps)

            def longest_partial(i):
                m = _longest_partial_at_masks(
                    bmasks, nbuf, i, steps, ts_arr, md, bnt
                )
                if not m:
                    return None
                return {v: [buf[j] for j in js] for v, js in m.items()}
        else:

            def skip_to_anchor(i):
                return i

            def try_match(i):
                return _match_at(buf, i, steps, wt)

            def has_partial(i):
                return _partial_at(buf, i, steps)

            def longest_partial(i):
                return _longest_partial_at(buf, i, steps, wt)

        out, consumed = [], 0
        i = 0
        while i < len(buf):
            j = skip_to_anchor(i)
            if j > i:
                consumed = i = j
                if i >= len(buf):
                    break
            m = try_match(i)
            if m is not None:
                matched, idx = m
                rec = dict(zip(partition_by, key))
                for name, fmeas in measures.items():
                    rec[name] = fmeas(matched)
                if timeout_measures is not None:
                    rec["__side"] = "match"
                out.append(rec)
                nxt = _resume_index(i, idx, steps, after_match)
                consumed, i = nxt, nxt
            elif has_partial(i):
                if use_ts and buf[-1][order_by] - buf[i][order_by] > delta:
                    # WITHIN expired: this partial can only complete via
                    # rows later than everything seen, which would bust
                    # the span bound — prune the start, keep scanning.
                    # With a timeout handler installed this prune IS the
                    # processTimedOutMatch call site (CepOperator
                    # advanceTime): surface the partial before dropping it
                    if timeout_measures is not None:
                        partial = longest_partial(i)
                        if partial is not None:
                            rec = dict(zip(partition_by, key))
                            tts = buf[i][order_by] + delta
                            for name, fmeas in timeout_measures.items():
                                rec[name] = fmeas(partial, tts)
                            rec["__side"] = "timeout"
                            out.append(rec)
                    i += 1
                    consumed = i
                else:
                    break  # live open partial — retain buf[i:]
            else:
                i += 1
                consumed = i  # row i can never start a match; drop it
        return out, buf[consumed:]

    return run(step)


def _stream_any_step(
    partition_by: list[str],
    order_by: str,
    steps: list[Step],
    measures: dict[str, Callable[[Matched], object]],
    within: str,
    buffer_key: Callable[[Row], object],
    timeout_measures: dict[str, Callable[[Matched, object], object]] | None = None,
) -> Callable:
    """Step function of streaming followedByAny (SKIP_TILL_ANY —
    NFA.java:86's skip-till-any transition): every batch re-enumerates ALL anchors in
    the retained window with the batch all-anchors matcher and emits
    only matches not already emitted (md5 fingerprint set in state).
    Anchors stay live after a match — an A already paired with B1 still
    pairs with a later-arriving B2 — which is exactly why the
    deterministic path's consume-prefix buffer can't express it.

    State (the JSON document [rows, fingerprints]) = rows within
    ``within`` of the newest timestamp + emitted fingerprints anchored
    inside that window; both prune together, so
    state is bounded by the window's row count (the same windowTime
    bound Flink requires for SKIP_TILL_ANY state cleanup). Caveat: a
    match arriving entirely BELOW the prune cutoff (very late data) is
    dropped where batch would emit it — standard watermark semantics.

    With ``timeout_measures`` (r12, VERDICT r11 #5): an anchor pruning
    out of the window with NO emitted match and a viable prefix emits a
    ``__side='timeout'`` row carrying its buffered longest partial —
    the NFA.java:86 timeout branch at the advanceTime prune, same
    contract as the deterministic path's handler."""
    import hashlib

    delta = pd.Timedelta(within)
    vec_ready = steps_all_vec(steps)

    def _row_md5(r) -> str:
        return hashlib.md5(
            json.dumps(r, default=str, sort_keys=True).encode()
        ).hexdigest()

    def step(key, rows, doc):
        buf, emitted = doc or ([], [])
        buf += rows
        emitted = set(emitted)
        for d in buf:
            d[order_by] = pd.Timestamp(d[order_by])
        buf.sort(key=buffer_key)
        wt = (order_by, delta)
        if vec_ready and buf:
            # hoisted-mask any-path: DEFINE masks + jump tables computed
            # once per batch over the retained window, then the
            # all-anchors enumeration walks indices
            bdf = pd.DataFrame(buf)
            nbuf = len(buf)
            lmasks, bnt, _anchor = _prepare_masks(
                compute_step_masks(bdf, steps), nbuf, steps
            )
            ts_arr = bdf[order_by].to_numpy()
            md = delta.to_timedelta64()

            def matches_at(i):
                for im in _match_at_any_masks(
                    lmasks, nbuf, i, steps, ts_arr, md, bnt
                ):
                    yield {v: [buf[j] for j in js] for v, js in im.items()}
        else:

            def matches_at(i):
                yield from _match_at_any(buf, i, steps, wt)

        out = []
        for i in range(len(buf)):
            for matched in matches_at(i):
                body = hashlib.md5(
                    json.dumps(
                        {
                            v: [json.dumps(r, default=str, sort_keys=True) for r in rs]
                            for v, rs in matched.items()
                        },
                        sort_keys=True,
                    ).encode()
                ).hexdigest()
                anchor_ts = min(r[order_by] for rs in matched.values() for r in rs)
                # fingerprint = anchor ts | anchor-row hash | match body:
                # the ts prefix drives pruning, the anchor hash lets the
                # timeout scan know this anchor DID complete something
                anchor_row = next(
                    r for rs in matched.values() for r in rs
                    if r[order_by] == anchor_ts
                )
                fp = (f"{pd.Timestamp(anchor_ts).isoformat()}"
                      f"|{_row_md5(anchor_row)}|{body}")
                if fp in emitted:
                    continue
                emitted.add(fp)
                rec = dict(zip(partition_by, key))
                for name, fmeas in measures.items():
                    rec[name] = fmeas(matched)
                if timeout_measures is not None:
                    rec["__side"] = "match"
                out.append(rec)
        if buf:
            cutoff = max(r[order_by] for r in buf) - delta
            if timeout_measures is not None:
                # anchors pruning NOW (below the cutoff) that never
                # completed a match but had a viable prefix → timeout
                # row (processTimedOutMatch at the advanceTime prune)
                done_anchors = {p.split("|")[1] for p in emitted}
                for i, r in enumerate(buf):
                    if r[order_by] >= cutoff:
                        break  # buf is ts-sorted
                    if _row_md5(r) in done_anchors:
                        continue
                    partial = _longest_partial_at_any(buf, i, steps, wt)
                    if partial is None:
                        continue
                    rec = dict(zip(partition_by, key))
                    tts = r[order_by] + delta
                    for name, fmeas in timeout_measures.items():
                        rec[name] = fmeas(partial, tts)
                    rec["__side"] = "timeout"
                    out.append(rec)
            buf = [r for r in buf if r[order_by] >= cutoff]
            emitted = {
                fp for fp in emitted if pd.Timestamp(fp.split("|", 1)[0]) >= cutoff
            }
        return out, [buf, sorted(emitted)]

    return step


# ---- Pattern API facade (flink-cep Pattern.java / CEP.java) ---------------


class Pattern:
    """Fluent pattern builder mirroring flink-cep's ``Pattern``:
    ``Pattern.begin("a").where(...).followed_by("b").where(...)
    .one_or_more().within("1 hour")``. Produces the ``Step`` list the
    NFA consumes; ``CEP.pattern(...)`` attaches it to a DataFrame.

    Contiguity mapping (Pattern.java): ``next`` = strict,
    ``followed_by`` = relaxed (SKIP_TILL_NEXT), ``not_next`` /
    ``not_followed_by`` = negative elements. ``where`` ANDs successive
    conditions onto the current element (IterativeCondition chaining),
    ``or_where`` ORs them (RichOrCondition)."""

    def __init__(self) -> None:
        self._steps: list[Step] = []
        self._within: object | None = None

    @classmethod
    def begin(cls, name: str) -> "Pattern":
        p = cls()
        p._steps.append(Step(name, _always, vec=None))
        return p

    def _append(self, name: str, contiguity: str, negated: bool = False) -> "Pattern":
        self._steps.append(
            Step(name, _always, contiguity=contiguity, negated=negated)
        )
        return self

    def next(self, name: str) -> "Pattern":
        return self._append(name, "strict")

    def followed_by(self, name: str) -> "Pattern":
        return self._append(name, "relaxed")

    def followed_by_any(self, name: str) -> "Pattern":
        """Pattern.followedByAny (SKIP_TILL_ANY): every later anchor of
        this element yields its own match, not just the earliest.
        Requires select(after_match='to_next_row')."""
        return self._append(name, "relaxed_any")

    def not_next(self, name: str) -> "Pattern":
        return self._append(name, "strict", negated=True)

    def not_followed_by(self, name: str) -> "Pattern":
        return self._append(name, "relaxed", negated=True)

    def _cur(self) -> Step:
        return self._steps[-1]

    def where(self, predicate: Predicate, vec: Callable | None = None) -> "Pattern":
        s = self._cur()
        if s.predicate is _always:
            s.predicate, s.vec = predicate, vec
        else:  # AND-chain like repeated Pattern.where()
            old_p, old_v = s.predicate, s.vec
            s.predicate = lambda r, m: old_p(r, m) and predicate(r, m)
            s.vec = (lambda pdf: old_v(pdf) & vec(pdf)) if (old_v and vec) else None
        return self

    def or_where(self, predicate: Predicate, vec: Callable | None = None) -> "Pattern":
        s = self._cur()
        old_p, old_v = s.predicate, s.vec
        s.predicate = lambda r, m: old_p(r, m) or predicate(r, m)
        s.vec = (lambda pdf: old_v(pdf) | vec(pdf)) if (old_v and vec) else None
        return self

    def one_or_more(self) -> "Pattern":
        self._cur().min, self._cur().max = 1, None
        return self

    def allow_gaps(self) -> "Pattern":
        """Relaxed quantifier-internal contiguity: non-matching rows
        between iterations are skipped, each take landing on the
        earliest matching row. NB: Flink's ``oneOrMore()`` defaults to
        this; here the default is ``.consecutive()`` (matching SQL
        MATCH_RECOGNIZE quantifier semantics) and gap-skipping is the
        opt-in."""
        self._cur().internal = "relaxed"
        return self

    def allow_combinations(self) -> "Pattern":
        """Pattern.allowCombinations() (flink-cep Quantifier
        ConsumingStrategy.SKIP_TILL_ANY between iterations): the
        quantified variable matches EVERY increasing subset of viable
        take positions, each subset continuing the pattern as its own
        match. Requires after_match='to_next_row' (all-anchors path);
        pair with within() — enumeration is exponential in the window's
        matching rows, exactly as the reference documents."""
        self._cur().internal = "combinations"
        return self

    def consecutive(self) -> "Pattern":
        """Strict quantifier-internal contiguity (the default here;
        Pattern.consecutive() in flink-cep)."""
        self._cur().internal = "consecutive"
        return self

    def zero_or_more(self) -> "Pattern":  # oneOrMore().optional() spelling
        self._cur().min, self._cur().max = 0, None
        return self

    def times(self, n: int, m: int | None = None) -> "Pattern":
        self._cur().min, self._cur().max = n, (m if m is not None else n)
        return self

    def optional(self) -> "Pattern":
        self._cur().min = 0
        return self

    def greedy(self) -> "Pattern":
        """Pattern.greedy() (flink-cep Quantifier.java:125) — the
        default here, provided for API parity and to undo reluctant()."""
        self._cur().reluctant = False
        return self

    def reluctant(self) -> "Pattern":
        """Reluctant take-count preference (Quantifier.java
        ConsumingStrategy — the reference's Pattern-API quantifiers are
        reluctant UNLESS .greedy() is called; here greedy is the
        default, matching SQL MATCH_RECOGNIZE, and reluctant is the
        opt-in). Shortest completing take-count wins."""
        self._cur().reluctant = True
        return self

    def until(self, predicate: Predicate) -> "Pattern":
        """Pattern.until(untilCondition) (flink-cep Pattern.java:228):
        stop condition for a LOOPING quantifier — once a row satisfies
        it, no more events are accepted into the loop, and the stop row
        itself is NOT consumed into the match (the NFA ANDs NOT(until)
        into the looping state's take and ignore edges). Only valid on
        an unbounded quantifier (``one_or_more`` / ``times_or_more`` /
        ``zero_or_more``) and at most once per step — same
        MalformedPatternException rules as the reference."""
        s = self._cur()
        if s.max is not None:
            raise ValueError(
                f"step {s.var!r}: until() requires a looping quantifier "
                "(one_or_more/times_or_more) — Pattern.java throws "
                "MalformedPatternException for non-looping steps too"
            )
        if s.until is not None:
            raise ValueError(
                f"step {s.var!r}: only one until() condition can be "
                "applied (Pattern.java:234)"
            )
        s.until = predicate
        return self

    def times_or_more(self, n: int) -> "Pattern":
        """Pattern.timesOrMore(n) — at least ``n`` takes, unbounded."""
        self._cur().min, self._cur().max = n, None
        return self

    def within(self, duration) -> "Pattern":
        """Pattern.within(Time) — max span from first to last matched
        row. ``duration``: pandas-parsable offset string or timedelta."""
        self._within = duration
        return self

    def build(self) -> list[Step]:
        if self._steps and self._steps[-1].negated and self._steps[-1].contiguity == "relaxed":
            raise ValueError(
                "pattern cannot end with notFollowedBy (Flink NFACompiler "
                "rejects it too)"
            )
        return list(self._steps)


def _always(r: Row, m: Matched) -> bool:
    return True


class CEP:
    """``CEP.pattern(df, pattern, partition_by, order_by)`` →
    ``PatternStream`` (flink-cep CEP.java:58 pattern())."""

    @staticmethod
    def pattern(
        df: DataFrame,
        pattern: Pattern,
        partition_by: list[str],
        order_by: str | list[str],
    ) -> "PatternStream":
        return PatternStream(df, pattern, partition_by, order_by)


class PatternStream:
    """PatternStream.select parity (PatternStream.java:131): one output
    row per match via the MEASURES-style extractor dict."""

    def __init__(self, df, pattern, partition_by, order_by):
        self._df = df
        self._pattern = pattern
        self._partition_by = partition_by
        self._order_by = order_by

    def _within_tuple(self):
        if self._pattern._within is None:
            return None
        order_col = (
            self._order_by if isinstance(self._order_by, str) else self._order_by[0]
        )
        delta = self._pattern._within
        if isinstance(delta, str):
            delta = pd.Timedelta(delta)
        return (order_col, delta)

    def select(
        self,
        measures: dict[str, Callable[[Matched], object]],
        output_schema: StructType,
        after_match: str = "past_last_row",
        timeout_measures: dict[str, Callable[[Matched, object], object]] | None = None,
        timeout_schema: StructType | None = None,
    ):
        """One row per match. With ``timeout_measures``/``timeout_schema``
        this is PatternStream.select(PatternTimeoutFunction, OutputTag,
        PatternSelectFunction) parity (PatternStream.java:153): returns
        ``(matches_df, timeouts_df)`` where the second frame carries the
        partials that expired on within() — requires the pattern to
        declare ``.within(...)``, exactly as Flink requires windowTime
        for timed-out matches to exist."""
        steps = self._pattern.build()
        within = self._within_tuple()
        if timeout_measures is not None:
            if timeout_schema is None:
                raise ValueError("timeout_measures requires timeout_schema")
            return match_recognize_with_timeouts(
                self._df,
                self._partition_by,
                self._order_by,
                steps,
                measures,
                output_schema,
                timeout_measures,
                timeout_schema,
                after_match=after_match,
                within=within,
            )
        return match_recognize(
            self._df,
            self._partition_by,
            self._order_by,
            steps,
            measures,
            output_schema,
            after_match=after_match,
            within=within,
        )
