"""Session defaults come from the machine; the env vars override them."""

import os

from bloom_filters_spark.session import default_resources


def test_default_resources_follow_machine_and_env():
    cores, mem = default_resources({})
    assert cores == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem.endswith("m") and abs(int(mem[:-1]) - ram_mb // 2) <= 1
    assert default_resources({"SPARK_GRAFT_CPUS": "3",
                              "SPARK_GRAFT_DRIVER_MEM": "2g"}) == (3, "2g")
    assert default_resources({"SPARK_GRAFT_CPUS": "3"})[1] == mem
