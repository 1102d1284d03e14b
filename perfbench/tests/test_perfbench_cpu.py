"""The /proc readings behind the work CPU metrics, on this process."""

import os
import threading
import time

import pytest

from cpu import TICK, CpuMeter, machine_cpu_ticks, thread_ticks


def test_thread_and_machine_ticks_count_this_threads_work():
    pid, tid = os.getpid(), str(threading.get_native_id())
    thread0, machine0 = thread_ticks(pid, tid), machine_cpu_ticks()
    t = time.thread_time()
    while time.thread_time() - t < 0.3:
        pass
    spent = thread_ticks(pid, tid) - thread0
    assert spent >= 0.15 * TICK  # 0.3 s, less sampling slack
    # the machine's CPU holds this thread's, give or take a tick of sampling
    assert machine_cpu_ticks() - machine0 >= spent - 2


def test_meter_refuses_a_process_without_jit_threads():
    with pytest.raises(RuntimeError, match="no JIT compiler threads"):
        CpuMeter(os.getpid())
