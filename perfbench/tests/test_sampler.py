import time

import sampler

# runs with an engine-looking file name, as if defined in the package
ENGINE_CODE = compile(
    "def busy(seconds):\n"
    "    import time\n"
    "    t = time.time()\n"
    "    while time.time() - t < seconds:\n"
    "        time.sleep(0.001)\n",
    "/src/xgboost_spark/plans/booster.py", "exec")


def test_samples_name_the_innermost_engine_module():
    ns = {}
    exec(ENGINE_CODE, ns)
    with sampler.StackSampler(interval_s=0.002) as s:
        time.sleep(0.05)
        t_in = time.time()
        ns["busy"](0.1)
        t_out = time.time()
        time.sleep(0.05)
    assert not s._thread.is_alive()
    assert s.module_at(t_in + 0.03) == "plans.booster"
    assert s.module_at(t_out + 0.03) is None
    assert s.module_at(t_in - 0.04) is None


def test_module_at_picks_next_sample_then_previous():
    s = sampler.StackSampler()
    s.times, s.modules = [1.0, 2.0, 3.0], ["a", "b", "c"]
    assert s.module_at(1.99) == "b"                 # next sample, in window
    assert s.module_at(1.5) == "a"                  # none in window: previous
    assert s.module_at(0.5) is None                 # nothing before
    assert s.module_at(3.5) == "c"
