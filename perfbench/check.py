"""Checks of every answer a run produced, outside the timed window.

* every op, warm-up included, must complete: a failed op is a mismatch;
* dml: each readback against the model at that point of the stream, and
  the final tables against the model after the executed prefix;
* dedup: each batch's pairs and clusters against a brute-force pair set
  and union-find.
"""

import json

import gen


def _answers(out_dir):
    got = {}
    path = out_dir / "answers.jsonl"
    if path.exists():
        for line in path.read_text().splitlines():
            a = json.loads(line)
            got[a["id"]] = a
    return got


def check(workload, seed, built, res, out_dir):
    got = _answers(out_dir)
    n_exec = res["warmup_ops"] + len(res["ops"])
    ops = built["ops"][:n_exec]
    bad = [f"op {a['id']} failed: {a['error']}" for a in got.values() if "error" in a]
    changed = 0
    if workload == "dml":
        _, model = gen.dml_ops(seed, n_exec, built["seed_tables"])
        for op in ops:
            a = got.get(op["id"])
            if "expect" in op and a is not None and "error" not in a:
                if a.get("rows", []) != op["expect"]:
                    bad.append(f"op {op['id']} ({op['kind']}): readback differs from model")
        final = json.loads((out_dir / "final.json").read_text())
        snap = model.snapshot()
        for t in ("acct", "pc", "uq", *gen.CDC_TABLES):
            if final[t] != snap[t]:
                bad.append(f"final table {t} differs from model")
        c, d, lo = final["uq_ids"][0]
        if c != d or c != len(snap["uq"]) or (lo is not None and lo < 1):
            bad.append("uq auto-increment ids are not unique and positive")
        changed = model.changed_bytes
        expects_answer = [op["id"] for op in ops if "expect" in op]
    else:
        corpus = built["corpus"]
        for op in ops:
            a = got.get(op["id"])
            if a is None or "error" in a:
                continue
            pairs, clusters = gen.dedup_expected(corpus, op["batch"])
            r = a["rows"]
            if sorted(map(tuple, r["pairs"])) != pairs:
                bad.append(f"op {op['id']}: pairs differ from brute force")
            if sorted(map(tuple, r["clusters"])) != clusters:
                bad.append(f"op {op['id']}: clusters differ from union-find")
        expects_answer = [op["id"] for op in ops]
    missing = [i for i in expects_answer if i not in got]
    if missing:
        bad.append(f"ops without answers: {missing[:5]}")
    return {"mismatches": bad, "changed_bytes": changed}
