"""The RSS sampler's process tree leaves out the JVM's not-yet-exec'd
forks, which would count the JVM's memory twice."""

from perfbench.rss import descendants

JAVA = "/usr/lib/jvm/java-17-openjdk-amd64/bin/java"
PYTHON = "/usr/bin/python3.11"


def test_jvm_forks_are_left_out():
    procs = {
        10: (1, PYTHON),  # the benchmark
        11: (10, JAVA),  # the Spark driver JVM
        12: (11, JAVA),  # a fork of the JVM before it execs a command
        13: (11, PYTHON),  # the Python worker daemon
        14: (13, PYTHON),  # a Python worker, forked from the daemon
        15: (1, JAVA),  # not ours
    }
    assert sorted(descendants(10, procs)) == [10, 11, 13, 14]
