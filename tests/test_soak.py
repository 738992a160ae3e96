"""tools/soak.py's /proc readers, on fixed ``comm``/``stat`` text (no Spark)."""

from __future__ import annotations

from tools.soak import bucket, bucket_deltas, stat_cpu_ticks


def test_thread_names_bucket_by_prefix():
    # ``comm`` keeps 15 bytes of the JVM thread name.
    assert bucket("C2 CompilerThre") == "C2"
    assert bucket("C1 CompilerThre") == "C1"
    for gc in ("GC Thread#0", "GC Thread#3", "G1 Main Marker", "G1 Conc#0",
               "G1 Refine#0", "G1 Service"):
        assert bucket(gc) == "GC"
    assert bucket("Executor task l") == "task"
    for other in ("VM Thread", "java", "block-manager-s", "dag-scheduler-e", "C3 Compiler", ""):
        assert bucket(other) == "other"


def test_stat_ticks_count_fields_after_the_name():
    # A name with spaces and a ')' must not shift utime/stime (fields 14, 15).
    stat = "4242 (C2 Compi) er) S 1 2 3 0 -1 4194624 10 0 0 0 700 55 9 9 20 0 1 0 100 0 0"
    assert stat_cpu_ticks(stat) == 755


def test_bucket_deltas_sum_per_bucket_and_count_new_threads_from_zero():
    before = {1: ("C2", 100), 2: ("GC", 50), 3: ("C2", 30)}
    after = {1: ("C2", 300), 2: ("GC", 60), 4: ("C2", 40), 5: ("other", 10)}
    got = bucket_deltas(before, after, hz=100)
    # Thread 3 exited: its CPU since the last sample is lost, not negative.
    assert got == {"C2": 2.4, "C1": 0.0, "GC": 0.1, "task": 0.0, "other": 0.1}
