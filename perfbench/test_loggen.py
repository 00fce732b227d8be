#!/usr/bin/env python3
"""Checks the benchmark's seeded log generator: the answers it tallies
while writing a log must equal an independent recount of the written
file. Counts must match exactly; averages to 1e-9 relative.

    python3 perfbench/test_loggen.py      (from the root of a checkout)
"""
import collections
import datetime
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

GAP_MS = 30 * 60 * 1000  # EventStream.sessionMetrics' default session gap


def recount(path):
    """Tolerant scan as the reference consumers do it: blank and
    malformed lines skipped, commits by event_type."""
    ranks, texts, commits = [], [], []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if not isinstance(ev, dict) or ev.get("event_type") != "text_committed":
                continue
            r = ev.get("selected_candidate_rank")
            ranks.append(r)
            texts.append(ev.get("committed_text"))
            ts = datetime.datetime.strptime(ev["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
            ms = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000 + 0.5)
            commits.append((ms, r))
    sel = [r for r in ranks if r is not None and r >= 0]
    misses = collections.Counter(t for t, r in zip(texts, ranks) if r is not None and r > 0)
    got = {
        "total_commits": len(ranks),
        "total_selections": len(sel),
        "raw_input_commits": sum(1 for r in ranks if r == -1),
        "first_choice_count": sum(1 for r in sel if r == 0),
        "top3_count": sum(1 for r in sel if r < 3),
        "average_rank": sum(sel) / len(sel) if sel else None,
        "overall_accuracy_score": sum(1.0 / (r + 1) for r in sel) / len(sel) if sel else None,
        "misses": sum(misses.values()),
        "top_miss_freq": max(misses.values()) if misses else 0,
    }
    sessions, cur = [], None
    for ms, r in sorted(commits, key=lambda c: c[0]):
        if cur is None or ms - cur[4] > GAP_MS:
            cur = [ms, 0, 0, 0, ms]
            sessions.append(cur)
        cur[1] += 1
        cur[2] += r is not None and r >= 0
        cur[3] += r is not None and r > 0
        cur[4] = ms
    got["closed_sessions"] = [s[:4] for s in sessions[:-1]]
    return got


class GeneratorTallies(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp, cls.jvm = run.build()
        cls.dir = tempfile.mkdtemp(dir=run.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def generate(self, kind, seed, lines):
        out = os.path.join(self.dir, f"{kind}-{seed}.jsonl")
        subprocess.run(["java"] + self.jvm + ["-cp", self.cp, "perfbench.Gen", "--kind", kind,
                        "--seed", str(seed), "--lines", str(lines), "--out", out], check=True)
        return json.load(open(out + ".expected.json")), recount(out), out

    def check(self, want, got):
        for k, w in want.items():
            g = got[k]
            if isinstance(w, float):
                self.assertLessEqual(abs(g - w), 1e-9 * abs(w), k)
            else:
                self.assertEqual(g, w, k)

    def test_cli_log(self):
        for seed in (1, 2):
            want, got, path = self.generate("cli", seed, 20000)
            self.check(want, got)
            text = open(path, encoding="utf-8").read().split("\n")
            self.assertGreater(sum(1 for line in text if line == ""), 50)  # blank lines
            self.assertGreater(want["misses"], 0)

    def test_tail_log(self):
        want, got, _ = self.generate("tail", 3, 60000)
        self.check(want, got)
        self.assertEqual(len(want["closed_sessions"]), 2)


if __name__ == "__main__":
    unittest.main()
