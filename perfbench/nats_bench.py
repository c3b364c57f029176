"""nats_pubsub: the reference's subscriber hot path, with no Spark.

A generator process (natsgen.py) plays a core-NATS broker on TCP. This
process pulls frames with ``NatsClient.next_msg`` and hands
each to ``CdcNats`` through ``LocalBroker.publish``, which decodes the
CDCMsg and scans sixteen MQTT subscriptions, calling back the five that
match.

- Set-up (``setup_s``): the median of ``SETUPS`` cold starts of a
  subscriber, each in a fresh interpreter: importing the client,
  connecting and subscribing. The generator's own start is not included.
- Warm-up: 2000 frames, untimed.
- Phase 1 (``ops_per_s``): a saturating flood for three quarters of
  ``--seconds``; throughput is the frames dispatched over the time taken,
  measured in windows of ``WINDOW`` frames. The client's speed was seen to
  switch between about 5k and 9k frames/s for stretches of seconds, so
  this phase gets the larger share. A traced run traces every other window
  and reports the difference as the tracing overhead.
- Phase 2 (``op_p50_s``, ``op_p90_s``): an open loop at ``PACED_RATE``
  frames/s for the rest; percentiles over every frame of the phase.
  The reported latency runs from the moment ``next_msg`` hands a frame over
  to its last subscriber callback. Latency from each frame's due time
  (``msg_p50_s`` ... ``msg_p99_s``) is in the result file: on a shared
  virtual machine it was dominated by how long the idle client took to be
  scheduled again, which moved its 90th percentile from 0.3 ms to 20 ms
  between runs of the same code.

The generator runs on a CPU of its own, this process on the others.
Every frame is checked afterwards: its callback count against an
independent match count, its payload CRC and channel against the seeded
message, and the sequence numbers for loss. Per-layer counters cover the
traced windows of phase 1; spans are kept for one frame in ``SAMPLE``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import zlib

from . import traffic
from .common import NATS_COUNTERS, NATS_SPANS, Tracer, peak_rss_mb, percentile

SETUPS = 7           # cold starts of a subscriber; setup_s is their median
WARM_FRAMES = 2000
SAMPLE = 64
WINDOW = 200         # frames per window in phase 1
PACED_RATE = 2500    # frames/s in phase 2, at most half of phase-1 throughput
PHASE1_SHARE = 0.75  # of --seconds; phase 2 gets the rest
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
GEN = os.path.join(BENCH_DIR, "natsgen.py")


class _Delivery:
    """What the subscribers saw of the frame being dispatched."""

    __slots__ = ("n", "last_ns", "payload", "channel")

    def __init__(self) -> None:
        self.n, self.last_ns, self.payload, self.channel = 0, 0, b"", ""


# A subscriber's cold start in a fresh interpreter: importing the client,
# connecting, subscribing to the CDC subject and to every MQTT pattern.
_COLD_START = """
import sys, time
t0 = time.perf_counter()
from node_cdc_nats_spark.client import LocalBroker, connect
from node_cdc_nats_spark.sources.nats import NatsClient
nc = NatsClient(sys.argv[1], reconnect=False)
nc.subscribe(sys.argv[2])
cdc = connect(LocalBroker(), sys.argv[2])
for pattern in sys.argv[3:]:
    cdc.subscribe(pattern, lambda msg, subject, sid: None)
print(time.perf_counter() - t0)
nc.close()
"""


def _cold_start(url: str) -> float:
    """Seconds from the start of the client's import to its last
    subscription, measured in a fresh interpreter."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _COLD_START, url, traffic.TOPIC, *traffic.patterns()],
        env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=60, check=True)
    return float(out.stdout.split()[-1])


class _Session:
    """The client connection and sixteen subscriptions of this process."""

    def __init__(self, url: str) -> None:
        from node_cdc_nats_spark.client import LocalBroker, connect
        from node_cdc_nats_spark.sources.nats import NatsClient

        self.nc = NatsClient(url, reconnect=False)
        self.nc.subscribe(traffic.TOPIC)
        self.broker = LocalBroker()
        self.cdc = connect(self.broker, traffic.TOPIC)
        self.seen = _Delivery()
        for pattern in traffic.patterns():
            self.cdc.subscribe(pattern, self._callback())

    def _callback(self):
        seen = self.seen
        mono = time.monotonic_ns

        def on_message(msg, subject, sid):
            seen.n += 1
            seen.last_ns = mono()
            seen.payload = msg["payload"]
            seen.channel = msg["channel"]

        return on_message

    def close(self) -> None:
        """Say goodbye, so the generator prints its statistics and exits."""
        self.nc.publish("ctl.bye", b"")
        self.nc.close()


def _spawn_generator(seed: int, cpu: int | None) -> tuple[subprocess.Popen, str]:
    cmd = [sys.executable, GEN, "--seed", str(seed)]
    if cpu is not None:
        cmd += ["--cpu", str(cpu)]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        port = int(proc.stdout.readline().split()[1])
    except Exception:
        proc.kill()
        proc.wait()
        raise
    return proc, f"nats://127.0.0.1:{port}"


def _reap_generator(proc: subprocess.Popen) -> dict:
    """Wait for the generator (killing it if it hangs) and return its
    statistics line."""
    try:
        out, _ = proc.communicate(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


class _Probe:
    """Counting and timing wrappers around the decode and match functions
    ``CdcNats`` calls; spans only for sampled frames."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.sampled = False
        self.active = False
        self._undo: list[tuple] = []

    def install(self) -> None:
        from node_cdc_nats_spark import client

        decode, match = client.decode_cdcmsg, client.matches
        tracer, pc = self.tracer, time.perf_counter

        def timed(name, counter_s, counter_n, fn):
            def wrapper(*args):
                if not self.active:
                    return fn(*args)
                if self.sampled:
                    sid = tracer.begin(name)
                    out = fn(*args)
                    dur = tracer.end(sid)
                else:
                    a = pc()
                    out = fn(*args)
                    dur = pc() - a
                tracer.counters[counter_s] += dur
                if counter_n:
                    tracer.counters[counter_n] += 1
                return out
            return wrapper

        for attr, new in (("decode_cdcmsg", timed("cdcmsg.decode", "cdcmsg.decode_s", None, decode)),
                          ("matches", timed("mqtt.match", "mqtt.match_s", "mqtt.match_calls", match))):
            self._undo.append((client, attr, getattr(client, attr)))
            setattr(client, attr, new)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)


def _parse(subject: str) -> tuple[int, int]:
    _, seq, due = subject.split(".")
    return int(seq), int(due)


def run(ctx: dict) -> dict:
    seed, seconds, trace = ctx["seed"], ctx["seconds"], ctx["trace"]
    # The generator gets a CPU of its own and this process the others, so
    # the flood's producer and consumer never take turns on one CPU.
    cpus = sorted(os.sched_getaffinity(0))
    gen_cpu = cpus[-1] if len(cpus) > 1 else None
    if gen_cpu is not None:
        os.sched_setaffinity(0, set(cpus[:-1]))
    t0 = time.perf_counter()
    proc, url = _spawn_generator(seed, gen_cpu)
    spawn_s = time.perf_counter() - t0
    try:
        return _run(proc, url, spawn_s, seed, seconds, trace)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def _run(proc: subprocess.Popen, url: str, spawn_s: float, seed: int, seconds: int,
         trace: bool) -> dict:
    setups = [_cold_start(url) for _ in range(SETUPS)]
    setup_s = statistics.median(setups)
    sess = _Session(url)

    nc, broker, seen = sess.nc, sess.broker, sess.seen
    topic = traffic.TOPIC
    seqs: list[int] = []
    counts: list[int] = []
    crcs: list[int] = []
    chans: list[str] = []
    latencies: list[float] = []
    dispatch: list[float] = []
    crc32 = zlib.crc32

    def deliver(data: bytes) -> None:
        seen.n = 0
        broker.publish(topic, data)
        counts.append(seen.n)
        crcs.append(crc32(seen.payload) if seen.n else -1)
        chans.append(seen.channel if seen.n else "")

    def drain_until(mark: str) -> None:
        while True:
            subject, data = nc.next_msg()
            if subject == mark:
                return
            seqs.append(_parse(subject)[0])
            deliver(data)

    # Warm-up.
    nc.publish("ctl.warm", str(WARM_FRAMES).encode())
    drain_until("ctl.mark")

    tracer = Tracer()
    probe = None
    if trace:
        probe = _Probe(tracer)
        probe.install()

    # Phase 1: saturating backlog.
    t1 = PHASE1_SHARE * seconds
    pc = time.perf_counter

    def plain_window() -> float:
        """Dispatch ``WINDOW`` frames; returns how long that took."""
        start = pc()
        for _ in range(WINDOW):
            subject, data = nc.next_msg()
            seqs.append(_parse(subject)[0])
            deliver(data)
        return pc() - start

    def traced_window() -> float:
        """The same, with counters on every frame and spans on sampled ones."""
        cnt = tracer.counters
        probe.active = True
        start = pc()
        for i in range(WINDOW):
            sampled = probe.sampled = i % SAMPLE == 0
            root = tracer.begin("nats.message") if sampled else None
            a = pc()
            if sampled:
                sid = tracer.begin("natsclient.next_msg", a)
            subject, data = nc.next_msg()
            b = pc()
            if sampled:
                tracer.end(sid, b)
                sid = tracer.begin("client.dispatch", b)
            seqs.append(_parse(subject)[0])
            seen.n = 0
            broker.publish(topic, data)
            c = pc()
            if sampled:
                tracer.end(sid, c)
                tracer.end(root, c)
            counts.append(seen.n)
            crcs.append(crc32(seen.payload) if seen.n else -1)
            chans.append(seen.channel if seen.n else "")
            cnt["natsclient.busy_s"] += b - a
            cnt["client.dispatch_s"] += c - b
            cnt["natsclient.bytes"] += len(data)
            cnt["client.callbacks"] += seen.n
        cnt["natsclient.msgs"] += WINDOW
        probe.active = False
        return c - start

    # A traced run alternates untraced and traced windows, so both see the
    # same stretches of a noisy machine and their difference is the cost of
    # tracing.
    nc.publish("ctl.flood", b"")
    start = pc()
    windows: list[float] = []
    traced_windows: list[float] = []
    while pc() - start < t1:
        windows.append(plain_window())
        if trace:
            traced_windows.append(traced_window())
    phase1_s = pc() - start
    n1 = WINDOW * (len(windows) + len(traced_windows))
    rate = WINDOW * len(windows) / sum(windows)
    traced_rate = overhead_s = None
    if trace:
        traced_rate = WINDOW * len(traced_windows) / sum(traced_windows)
        overhead_s = WINDOW * len(traced_windows) * (1 / traced_rate - 1 / rate)
    nc.publish("ctl.stop", b"")
    drain_until("ctl.mark")

    # Phase 2: open loop at a fixed rate.
    t2 = seconds - t1
    nc.publish("ctl.paced", f"{PACED_RATE} {t2:.3f}".encode())
    mono = time.monotonic_ns
    while True:
        subject, data = nc.next_msg()
        got = mono()
        if subject == "ctl.end":
            break
        seq, due = _parse(subject)
        seqs.append(seq)
        deliver(data)
        latencies.append((seen.last_ns - due) / 1e9)
        dispatch.append((seen.last_ns - got) / 1e9)

    sess.close()
    gen = _reap_generator(proc)
    rss = peak_rss_mb() + gen.get("maxrss_kb", 0) / 1024.0
    if probe is not None:
        probe.uninstall()

    # Verification (untimed).
    exp_counts, exp_crcs, exp_chans = traffic.expectations(seed)
    n_distinct = len(exp_counts)
    failures: list[str] = []
    bad = 0
    for i, seq in enumerate(seqs):
        j = seq % n_distinct
        if counts[i] != exp_counts[j] or crcs[i] != exp_crcs[j] or chans[i] != exp_chans[j]:
            bad += 1
            if bad <= 5:
                failures.append(f"frame {seq}: callbacks {counts[i]} (expected {exp_counts[j]}), "
                                f"payload/channel match {crcs[i] == exp_crcs[j] and chans[i] == exp_chans[j]}")
    sent = int(gen.get("sent", len(seqs)))
    lost = sent - len(set(seqs))
    if lost:
        failures.append(f"{lost} of {sent} frames lost")
    if bad > 5:
        failures.append(f"... {bad} mismatched frames in all")

    e2e = {
        "setup_s": setup_s,
        "ops_per_s": traced_rate if trace else rate,
        "op_p50_s": percentile(dispatch, 50),
        "op_p90_s": percentile(dispatch, 90),
        "peak_rss_mb": rss,
    }
    layers: dict[str, float] = {}
    if trace:
        layers = {k: tracer.counters.get(k, 0.0) for k in NATS_COUNTERS}
        calls = layers["mqtt.match_calls"]
        layers["mqtt.match_ratio"] = layers["client.callbacks"] / calls if calls else 0.0
        layers["gen.sent"] = sent
        layers["gen.late_p99_s"] = gen.get("late_p99_s", 0.0)
        selfs = tracer.self_times(scale={"nats.message": float(SAMPLE)})
        for s in NATS_SPANS:
            layers[f"self.{s}_s"] = selfs.get(s, 0.0)
        layers["trace.overhead_s"] = overhead_s
    return {
        "attempted": sent,
        "failed": bad + lost,
        "failures": failures,
        "e2e": e2e,
        "layers": layers,
        "spans": tracer.spans,
        "detail": {
            "setups_s": setups,
            "generator_spawn_s": spawn_s,
            "phase1_s": phase1_s,
            "phase1_msgs": n1,
            "phase1_window_s": windows,
            "phase2_rate": PACED_RATE,
            "phase2_msgs": len(latencies),
            "dispatch_p99_s": percentile(dispatch, 99),
            "msg_p50_s": percentile(latencies, 50),
            "msg_p90_s": percentile(latencies, 90),
            "msg_p99_s": percentile(latencies, 99),
            "generator": gen,
            "patterns": traffic.patterns(),
        },
    }
