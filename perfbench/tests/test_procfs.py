import os

import procfs

# a real /proc/<pid>/stat line, with a comm holding a space and a ')'
STAT = ("4242 (python3 x) y) S 4200 4242 4200 0 -1 4194560 900 50 0 0 "
        "120 30 7 3 20 0 5 0 1000 123456789 2048 18446744073709551615 "
        "1 1 0 0 0 0 0 16781312 2 0 0 0 17 3 0 0 0 0 0")


def test_parse_stat_fields():
    st = procfs.parse_stat(STAT)
    assert st["pid"] == 4242
    assert st["comm"] == "python3 x) y"
    assert st["state"] == "S"
    assert st["ppid"] == 4200
    assert (st["utime"], st["stime"], st["cutime"], st["cstime"]) == \
        (120, 30, 7, 3)
    assert st["rss_pages"] == 2048


def _st(pid, ppid, u=0, s=0, cu=0, cs=0, rss=0):
    return {"pid": pid, "ppid": ppid, "utime": u, "stime": s, "cutime": cu,
            "cstime": cs, "rss_pages": rss, "state": "S", "comm": "x"}


def test_subtree_and_totals_count_reaped_children():
    stats = {
        1: _st(1, 0, u=1000),                  # not ours
        10: _st(10, 1, u=5, s=5),               # the benchmark
        11: _st(11, 10, u=100, s=20, rss=10),   # the JVM
        12: _st(12, 11, u=1, cu=40, cs=10),     # Python daemon, reaped workers
        13: _st(13, 12, u=7, rss=3),            # a live worker
        20: _st(20, 1, u=999),                  # not ours
    }
    tree = procfs.subtree(stats, 10)
    assert sorted(st["pid"] for st in tree) == [10, 11, 12, 13]
    ticks = 10 + 120 + 51 + 7
    assert procfs.cpu_s(tree) == ticks / procfs.CLK_TCK
    assert procfs.rss_mb(tree) == 13 * procfs.PAGE / 2**20


def test_read_all_sees_this_process():
    stats = procfs.read_all()
    me = stats[os.getpid()]
    assert me["ppid"] == os.getppid()
    assert any(st["pid"] == os.getpid()
               for st in procfs.subtree(stats, os.getppid()))
