"""Pure-Python oracle: the reference's single-pass parser state machine.

Implements ``DiagnosticsParser.consumeLine`` / ``flush`` / ``finish``
(/root/reference/Sources/BuildLogParser/BuildLogParser.swift:303-384) over the
rule objects in :mod:`buildlogparser_spark.rules.table`. This is NOT part of
the Spark execution path — it is the ground truth every Spark operator is
differential-tested against (SURVEY.md §5), and it is also reused inside the
``applyInPandas`` stateful fallback (one oracle run per conversation group,
vectorized at the group level).

Dispatch order per line (BuildLogParser.swift:325-364):
  1. first rule whose ``is_end(line, current)`` is True → flush, then re-scan
     ``match_start`` on the same line (a line may end one diagnostic AND
     start the next);
  2. else first rule whose ``match_continuation`` is True → append the line
     to ``current.related_messages``;
  3. else first rule with ``fast_fail && match_start`` → flush, new current;
  4. else if a diagnostic is in flight and ALL rules say ``is_end`` → flush.
"""

from __future__ import annotations

import json

from .rules.table import Diagnostic, Rule


class ParserOracle:
    """One instance per line stream (per conversation). ``state`` resumes a
    stream from an earlier instance's :meth:`state`."""

    def __init__(self, rules: list[Rule], state: str | None = None):
        self.rules = rules
        self.current: Diagnostic | None = None
        self.current_line_no: int | None = None
        self.out: list[Diagnostic] = []
        self.out_line_nos: list[int | None] = []
        if state is not None:
            d = json.loads(state)
            self.current_line_no = d.pop("_turn")
            self.current = Diagnostic(**d)

    def state(self) -> str | None:
        """The parser's one piece of cross-line state — the in-flight
        ``current`` diagnostic plus the turn that started it — as JSON;
        None when nothing is in flight."""
        if self.current is None:
            return None
        return json.dumps({**self.current.__dict__, "_turn": self.current_line_no})

    def _flush(self) -> None:
        if self.current is not None:
            self.out.append(self.current)
            self.out_line_nos.append(self.current_line_no)
            self.current = None
            self.current_line_no = None

    def consume_line(self, line: str | None, line_no: int | None = None) -> None:
        """``line_no`` is graft provenance (the turn_idx of the line) — it does
        not participate in parsing, only in labeling the emitted diagnostic
        with the turn that started it. A NULL line (a turn without text) is
        a no-op, as if the turn were absent."""
        if line is None:
            return
        # (1) end-branch
        for rule in self.rules:
            if rule.is_end(line, self.current):
                self._flush()
                for start_rule in self.rules:
                    if start_rule.fast_fail(line):
                        diag = start_rule.match_start(line)
                        if diag is not None:
                            self.current = diag
                            self.current_line_no = line_no
                            return
                return
        # (2) continuation
        for rule in self.rules:
            if rule.match_continuation(line, self.current):
                assert self.current is not None
                self.current.related_messages.append(line)
                return
        # (3) new start
        for rule in self.rules:
            if rule.fast_fail(line):
                diag = rule.match_start(line)
                if diag is not None:
                    self._flush()
                    self.current = diag
                    self.current_line_no = line_no
                    return
        # (4) unanimous end
        if self.current is not None:
            if all(rule.is_end(line, self.current) for rule in self.rules):
                self._flush()

    def finish(self) -> list[Diagnostic]:
        self._flush()
        return self.out


def parse_lines(lines: list[str], rules: list[Rule]) -> list[Diagnostic]:
    """Parse one ordered line stream; returns diagnostics in emit order."""
    oracle = ParserOracle(rules)
    for i, line in enumerate(lines):
        oracle.consume_line(line, i)
    return oracle.finish()


def parse_lines_with_turns(
    lines: list[str], turn_idxs: list[int], rules: list[Rule],
) -> list[tuple[int | None, Diagnostic]]:
    """Like parse_lines but returns (start_turn_idx, diagnostic) pairs."""
    oracle = ParserOracle(rules)
    for t, line in zip(turn_idxs, lines):
        oracle.consume_line(line, t)
    diags = oracle.finish()
    return list(zip(oracle.out_line_nos, diags))
