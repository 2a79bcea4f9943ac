"""The benchmark's own arithmetic on synthetic inputs; no Spark session.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import datagen, generator, stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _log(batch_entries: dict[int, list[str]]) -> str:
    lines = ["v1"]
    for b, paths in sorted(batch_entries.items()):
        lines += [json.dumps({"path": f"file://{p}", "timestamp": 0, "batchId": b})
                  for p in paths]
    return "\n".join(lines) + "\n"


def test_source_log_reads_plain_and_compact_entries():
    entries = {
        # batches 0..9 folded into the compact file, batch 10 and 11 plain
        "9.compact": _log({0: ["/s/a"], 3: ["/s/b", "/s/c"], 9: ["/s/d"]}),
        "10": _log({10: ["/s/e"]}),
        "11": _log({11: ["/s/f", "/s/g"]}),
        ".11.crc": "\x00\xba binary",
        ".tmp-file.tmp": "partial",
    }
    fb = stats.parse_source_log(entries)
    assert fb == {"/s/a": 0, "/s/b": 3, "/s/c": 3, "/s/d": 9, "/s/e": 10,
                  "/s/f": 11, "/s/g": 11}


def test_compact_and_plain_entries_for_one_batch_agree():
    plain = {"3": _log({3: ["/s/b"]})}
    both = {"3": _log({3: ["/s/b"]}), "9.compact": _log({3: ["/s/b"], 9: ["/s/x"]})}
    assert stats.parse_source_log(plain)["/s/b"] == stats.parse_source_log(both)["/s/b"]


def test_tick_latency_joins_file_to_batch_to_first_version_at_or_after_it():
    ticks = [
        {"path": "/s/a", "due": 100.0},
        {"path": "/s/b", "due": 100.5},
        {"path": "/s/c", "due": 101.0},
        {"path": "/s/d", "due": 101.5},  # read, but its batch not yet committed
        {"path": "/s/e", "due": 102.0},  # never read
    ]
    file_batch = {"/s/a": 1, "/s/b": 1, "/s/c": 2, "/s/d": 4}
    # Version 2 is missing (no data batch); version 3 covers batch 2.
    commits = {0: 99.0, 1: 101.2, 3: 103.0}
    lat = stats.tick_latencies(ticks, file_batch, commits)
    assert lat[0] == 101.2 - 100.0
    assert lat[1] == 101.2 - 100.5
    assert lat[2] == 103.0 - 101.0
    assert lat[3] is None and lat[4] is None


def test_slowest_mean():
    assert stats.slowest_mean([5.0, 1.0, 3.0, 4.0], 2) == 4.5
    assert stats.slowest_mean([2.0], 3) == 2.0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    for n in range(20, 3000, 7):
        p = stats.tail_percentile(n)
        rank = -(-p * n // 100)
        assert n - rank >= stats.TAIL_MIN


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 95) == 95
    assert stats.percentile([3.0], 99) == 3.0


def test_backlog_growth_on_the_ladder():
    flat = [(t / 10, 1.5 + 0.3 * ((t * 7) % 5) / 5) for t in range(200)]
    assert not stats.backlog_grows(flat)
    # capacity 80 % of the offered rate: each second of input adds 0.25 s
    growing = [(t / 10, 1.5 + 0.25 * t / 10) for t in range(200)]
    assert stats.backlog_grows(growing)
    steps = [
        {"rate": 100, "tail_s": 2.0, "grows": False},
        {"rate": 150, "tail_s": 3.0, "grows": False},
        {"rate": 225, "tail_s": 4.0, "grows": True},
        {"rate": 337, "tail_s": 2.0, "grows": False},
    ]
    assert stats.sustained_rate(steps, 5.0) == 150
    steps[1]["tail_s"] = 6.0
    assert stats.sustained_rate(steps, 5.0) == 100


def test_generated_inputs_repeat_per_seed():
    t1 = datagen.make_tables(0.001, seed=5)
    t2 = datagen.make_tables(0.001, seed=5)
    t3 = datagen.make_tables(0.001, seed=6)
    for name in t1:
        assert t1[name].equals(t2[name]), name
    assert not t1["lineitem"].equals(t3["lineitem"])
    for app in datagen.CORPORA:
        assert datagen.make_corpus(app, 5, 500) == datagen.make_corpus(app, 5, 500)
        assert datagen.make_corpus(app, 5, 500) != datagen.make_corpus(app, 6, 500)
    assert generator.pool(5) == generator.pool(5) != generator.pool(6)


def test_generator_plan_covers_the_pool_in_order():
    ticks = generator.plan([("low", 1000, 1.0), ("high", 4000, 0.5)], 0.05)
    assert [t["phase"] for t in ticks] == ["low"] * 20 + ["high"] * 10
    assert ticks[0]["lines"] == 50 and ticks[-1]["lines"] == 200
    assert ticks[20]["at"] == 1.0
    firsts = [t["first"] for t in ticks]
    assert firsts == sorted(firsts)
    assert all(a["first"] + a["lines"] == b["first"] for a, b in zip(ticks, ticks[1:]))


def test_generator_slices_wrap_around_the_pool():
    lines = [f"l{i}" for i in range(7)]
    buf = generator.buffer(lines)
    for first, n in ((0, 7), (3, 2), (5, 4), (13, 7), (6, 1)):
        want = "".join(lines[(first + j) % 7] + "\n" for j in range(n))
        assert bytes(generator.render(buf, first, n)).decode() == want


def test_generator_process_lands_its_schedule(tmp_path):
    src, stage, rec = tmp_path / "src", tmp_path / "stage", tmp_path / "records.json"
    src.mkdir()
    cfg = {"seed": 3, "schedule": [["low", 100, 0.3]], "tick_s": 0.1,
           "src": str(src), "stage": str(stage), "records": str(rec)}
    proc = subprocess.Popen([sys.executable, "-m", "perfbench.generator", json.dumps(cfg)],
                            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    assert proc.stdout.readline() == "ready 3\n"
    proc.stdin.write(f"{time.time()!r}\n")
    proc.stdin.close()
    assert proc.wait(30) == 0
    proc.stdout.close()
    records = json.loads(rec.read_text())
    assert [r["lines"] for r in records] == [10, 10, 10]
    assert sorted(os.listdir(src)) == sorted(os.path.basename(r["path"]) for r in records)
    want = generator.pool(3)[10:20]
    assert (src / os.path.basename(records[1]["path"])).read_text().splitlines() == want


def test_reap_children_ends_orphaned_descendants():
    # A child that leaves a grandchild behind and exits; the subreaper must
    # inherit the grandchild, stop it and wait for it.
    script = (
        "import subprocess, sys\n"
        "from perfbench import common\n"
        "common.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], check=True)\n"
        "common.reap_children(grace_s=1.0)\n"
        "print(len(common._children()))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    grandchild, left = int(out[0]), int(out[1])
    assert left == 0
    assert not os.path.exists(f"/proc/{grandchild}")
