#!/usr/bin/env python3
"""Kill-mid-batch gate for the streaming ingest protocols.

StreamingSpec proves the marker/seq idempotence contracts under
SIMULATED replay (restart the stream from batch 0 in one JVM). This
gate proves them under a real SIGKILL: run a graft.KillProbe ingest
phase in a child JVM, SIGKILL the process group at a random instant
inside the ingest window, restart the same phase (the stream resumes
from the checkpoint and REDELIVERS the in-flight batch), then assert
the serve views equal batch rebuilds. Repeats over N random kill
points.

Phase families (4th arg, default "full"):
  full   — fullIngestLoop: corpus store + band/postings/assignment
           indexes grown over 12 doc microbatches.
  churn  — churnIngestLoop: the whole corpus churned (evens deleted,
           odds updated) over 12 op microbatches; postings/doclen/
           assignment serves + BM25 vs batch rebuilds.
  graph  — graphIngestLoop: kNN graph grown from nothing over 10
           arrival waves; served graph vs batch knnGraph.
  gchurn — graphChurnLoop: clean full ingest, then the knnGraphChurn
           delete set streamed over 6 waves; served graph vs batch
           knnGraphChurn.
  cdc    — cdcUpsertLoop: events-derived changelog over 12 batches
           into the bucket store (the aside/staging two-rename swap
           protocol); snapshot vs the whole-stream latest-wins fold,
           zero swap debris, point lookup agrees.

A kill can land mid-parquet-commit, between a band append and its
marker file, between an index append and the checkpoint offset commit,
or inside the Derby metastore — every seam the protocol's comments
argue about, exercised for real.

Usage: python3 tools/verify_killmid.py [iterations] [seed] [sf_dir] [family]
Requires compiled classes (sbt compile) — the kill loop runs plain
java so the victim is the protocol, not sbt.
"""
import os, random, shutil, signal, subprocess, sys, time

ITERS = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SEED = int(sys.argv[2]) if len(sys.argv) > 2 else 13
SF = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
FAMILY = sys.argv[4] if len(sys.argv) > 4 else "full"
FAMILIES = {"full": "", "churn": "churn-", "graph": "graph-",
            "gchurn": "gchurn-", "cdc": "cdc-"}
assert FAMILY in FAMILIES, f"unknown family {FAMILY} (want {list(FAMILIES)})"
PREFIX = FAMILIES[FAMILY]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CP = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
JAVA = shutil.which("java") or "/usr/bin/java"
# wall-clock cap per phase run, set after calibration (a hung child —
# e.g. a stream stuck before INGEST_BEGIN — must fail the iteration,
# not poll forever)
CAP = 900.0

random.seed(SEED)


def run_phase(phase, work, log, kill_after=None):
    """Run one KillProbe phase. If kill_after is set, SIGKILL the
    process group that long after INGEST_BEGIN appears; returns
    ("killed", t), ("done", rc), or ("hung", t) when the wall-clock
    cap expires first."""
    cmd = [JAVA, "-Xmx6g", "-cp", CP,
           "--add-opens=java.base/java.lang=ALL-UNNAMED",
           "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
           "--add-opens=java.base/java.util=ALL-UNNAMED",
           "--add-opens=java.base/java.nio=ALL-UNNAMED",
           "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
           "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
           "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
           "--add-opens=java.base/java.io=ALL-UNNAMED",
           "--add-opens=java.base/java.net=ALL-UNNAMED",
           "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
           "graft.KillProbe", phase, work, SF]
    with open(log, "ab") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf,
                                start_new_session=True, cwd=REPO)
        if kill_after is None:
            try:
                rc = proc.wait(timeout=CAP)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return ("hung", CAP)
            return ("done", rc)
        # wait for INGEST_BEGIN in the log, then arm the timer
        t_start = time.time()
        t0 = None
        while proc.poll() is None:
            time.sleep(0.1)
            if time.time() - t_start >= CAP:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return ("hung", CAP)
            if t0 is None:
                with open(log, "rb") as f:
                    if b"INGEST_BEGIN" in f.read():
                        t0 = time.time()
            elif time.time() - t0 >= kill_after:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                return ("killed", kill_after)
        return ("done", proc.returncode)


def expect(log, token, what):
    with open(log, "rb") as f:
        if token.encode() not in f.read():
            sys.exit(f"FAIL: {what} — no {token} in {log}")


def main():
    global CAP
    fails = 0
    # calibration: one clean run measures the ingest window so kill
    # times spread across all batches
    root = f"/tmp/graft_killmid_{FAMILY}"
    work = f"{root}/calib"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    log = f"{work}/probe.log"
    st, rc = run_phase(f"{PREFIX}setup", work, log)
    assert st == "done" and rc == 0, f"setup failed ({st}), see {log}"
    t0 = time.time()
    st, rc = run_phase(f"{PREFIX}ingest", work, log)
    window = time.time() - t0
    assert st == "done" and rc == 0, f"calibration ingest failed, see {log}"
    st, rc = run_phase(f"{PREFIX}check", work, log)
    expect(log, "KILLPROBE_OK", "calibration check")
    # several× the measured window absorbs restart redelivery work;
    # anything past that is a hang, not a slow batch
    CAP = max(300.0, 6 * window)
    print(f"calibration [{FAMILY}]: clean ingest+check OK, "
          f"ingest window ~{window:.1f}s, cap {CAP:.0f}s")
    shutil.rmtree(work, ignore_errors=True)

    # each ITERS slot must land a REAL kill: a run that beats the timer
    # still gets its restart+check (a replay-noop is free coverage, and
    # any failure there still fails the gate), but does not consume a
    # slot — the window estimate shrinks instead (the calibration run
    # can be slower than iteration runs on a loaded box) and the slot
    # redraws. Bounded retries keep a pathologically fast loop from
    # spinning forever.
    kills = 0
    noops = 0
    attempts = 0
    while kills < ITERS and attempts < ITERS * 3:
        attempts += 1
        work = f"{root}/iter{attempts}"
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work, exist_ok=True)
        log = f"{work}/probe.log"
        st, rc = run_phase(f"{PREFIX}setup", work, log)
        assert st == "done" and rc == 0, \
            f"setup failed (attempt {attempts}), see {log}"
        # kill anywhere from just-after-begin to near the expected end;
        # the window excludes session bootstrap (timer arms at
        # INGEST_BEGIN) so every sample lands inside real batch work
        t_kill = random.uniform(0.05, 0.95) * window
        st, t = run_phase(f"{PREFIX}ingest", work, log, kill_after=t_kill)
        tag = (f"attempt {attempts} (kill {kills + 1}/{ITERS}): "
               f"kill at {t_kill:.1f}s/{window:.1f}s -> {st}")
        # a run that beat the timer must have exited clean; a hang is a
        # failure of THIS phase, not something to blur into the restart
        if st == "done" and t != 0:
            print(f"{tag}; PRE-KILL RUN FAILED rc={t}, see {log}; kept {work}")
            fails += 1
            continue
        if st == "hung":
            print(f"{tag}; INGEST HUNG past {CAP:.0f}s cap, see {log}; "
                  f"kept {work}")
            fails += 1
            continue
        if st == "done":
            noops += 1
            window *= 0.8  # iteration runs are faster than calibration
        # resume (or, if the run beat the timer, replay-noop)
        st2, rc2 = run_phase(f"{PREFIX}ingest", work, log)
        if st2 != "done" or rc2 != 0:
            print(f"{tag}; RESTART FAILED ({st2}) rc={rc2}, see {log}; "
                  f"kept {work}")
            fails += 1
            continue
        st3, rc3 = run_phase(f"{PREFIX}check", work, log)
        with open(log, "rb") as f:
            ok = b"KILLPROBE_OK" in f.read() and st3 == "done" and rc3 == 0
        print(f"{tag}; restart done; check "
              f"{'OK' if ok else f'FAIL, see {log}; kept {work}'}")
        if not ok:
            fails += 1
            continue
        # a passing iteration's tables, checkpoints and logs are hundreds
        # of MB; only a failing one is kept for inspection
        shutil.rmtree(work, ignore_errors=True)
        if st == "killed":
            kills += 1
    short = ITERS - kills
    print(f"== killmid[{FAMILY}]: {kills} kills ok, {noops} replay-noops, "
          f"{fails} fail{', ' + str(short) + ' kills SHORT' if short else ''} ==")
    sys.exit(1 if fails or short else 0)


if __name__ == "__main__":
    main()
