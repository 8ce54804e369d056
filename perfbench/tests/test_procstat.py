import subprocess
import sys
import time

import procstat

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_parse_stat_survives_odd_command_names():
    fields = " ".join(["S", "42"] + ["0"] * 9 + ["5", "6", "7", "8"]
                      + ["0"] * 6 + ["99"] + ["0"] * 20)
    ppid, ticks, rss, state = procstat.parse_stat(f"123 (a) b (c) {fields}")
    assert (ppid, ticks, rss, state) == (42, 26, 99, "S")


def test_tree_cpu_counts_a_running_child():
    child = subprocess.Popen([sys.executable, "-c", BURN.format(s=30)])
    try:
        cpu0 = procstat.tree_cpu_s()
        time.sleep(1.0)
        assert procstat.tree_cpu_s() - cpu0 > 0.3
    finally:
        child.kill()
        child.wait(timeout=10)


def test_tree_cpu_keeps_a_reaped_childs_time():
    cpu0 = procstat.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.5)], check=True,
                   timeout=60)
    # the child is gone; its time now sits in our cutime/cstime
    assert procstat.tree_cpu_s() - cpu0 >= 0.4


def test_system_busy_counts_steal_but_not_idle():
    #        user nice sys idle iowait irq softirq steal guest guest_nice
    line = "cpu  100 2 30 5000 40 5 6 7 0 0"
    assert procstat.parse_system_busy(line) == 100 + 2 + 30 + 5 + 6 + 7


def test_system_busy_sees_a_busy_child():
    child = subprocess.Popen([sys.executable, "-c", BURN.format(s=30)])
    try:
        busy0, cpu0 = procstat.system_busy_s(), procstat.tree_cpu_s()
        time.sleep(1.0)
        busy = procstat.system_busy_s() - busy0
        assert busy >= procstat.tree_cpu_s() - cpu0 - 0.1
        assert busy > 0.3
    finally:
        child.kill()
        child.wait(timeout=10)


def test_foreign_cpus_is_the_machine_less_the_tree():
    assert procstat.foreign_cpus(busy_s=10.0, tree_cpu_s=8.0, wall_s=4.0) == 0.5
    # a reaped child's earlier CPU time can push the tree past the machine
    assert procstat.foreign_cpus(busy_s=3.0, tree_cpu_s=5.0, wall_s=1.0) == 0.0
    assert procstat.foreign_cpus(busy_s=1.0, tree_cpu_s=0.0, wall_s=0.0) == 0.0


def test_uncontended_wall_takes_out_the_foreign_share():
    def wall(f, cpus=4, synchronous=False):
        return procstat.uncontended_wall_s(4.0, f, cpus, synchronous)
    assert wall(0.0) == wall(0.0, synchronous=True) == 4.0
    assert wall(1.0) == 3.0
    # capped at n - 1 foreign CPUs, so the call keeps at least one
    assert wall(9.0) == 1.0
    assert wall(0.5, cpus=1) == 4.0
    # a synchronous call is held up by every rank pushed off its CPU
    assert wall(1.0, synchronous=True) == 2.0


def test_peak_rss_sees_the_tree():
    with procstat.PeakRss(interval_s=0.05) as rss:
        time.sleep(0.2)
    assert rss.peak_bytes > 10 * 2**20
    assert not rss._thread.is_alive()


def test_end_descendants_stops_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    procstat.end_descendants(timeout_s=0.2)
    assert child.wait(timeout=10) is not None
