"""Seeded generator for the ingest_api workload.

Writes upload trees under <out_dir>/uploads and returns the operation plan
the benchmark replays: rounds of request_ingest, reorganize and
update_status operations, each with the outcome the planted inputs imply.
Every round ingests the same trees under fresh run and dataset ids, in the
same operation order, so round r's k-th operation repeats round 1's; only
the status batches draw new rows, against the store all earlier rounds
built.

The mix is fixed per run and only the draws vary with the seed:
  * file counts are skewed: most trees hold 5-50 files, LARGE_TREES (never
    multi-assay) hold about 2,000;
  * assay types cover every workflow rule (codex, rnaseq, atac) and
    no_workflow, and the trees cover the generic, epic and multi-assay
    collection types;
  * INVALID_TREES uploads carry a planted metadata violation;
  * DUP_REQUESTS requests repeat an earlier run_id and must be
    acknowledged without running;
  * multi-assay uploads are reorganized into one child per component;
  * update_status batches mix legal, same-status and illegal transitions
    against the status store the previous operations built.

    python3 perfbench/gen_ingest.py <out_dir> <seed> [<rounds>]
"""
import hashlib
import json
import random
import re
import sys
from pathlib import Path

# with one status batch a round, a run's median operation falls inside the
# cluster of request_ingest latencies, not at its edge
UPLOADS = 5
LARGE_TREES = 1
LARGE_FILES = 2000
INVALID_TREES = 1
MULTI_ASSAY = 1
EPIC = 1
DUP_REQUESTS = 1
STATUS_BATCHES = 1
STATUS_BATCH_ROWS = 12

# assay_type -> workflow, in the engine's rule order (first match wins)
ASSAYS = {
    "codex": "codex_cytokit", "CODEX-akoya": "codex_cytokit",
    "scRNAseq-10xGenomics": "salmon_rnaseq", "snRNAseq": "salmon_rnaseq",
    "ATACseq-bulk": "sc_atac_seq", "snATACseq": "sc_atac_seq",
    "MALDI-IMS": "no_workflow", "PAS-microscopy": "no_workflow",
}
# multi-assay components share one workflow, so the ingest outcome does not
# depend on which component's metadata the scan lists first
FAMILIES = [["scRNAseq-10xGenomics", "snRNAseq"], ["ATACseq-bulk", "snATACseq"],
            ["codex", "CODEX-akoya"]]
LEGAL = {
    "dataset": {"new", "valid", "invalid", "processing", "submitted", "qa",
                "published", "error", "hold", "deprecated"},
    "upload": {"new", "valid", "invalid", "processing", "submitted", "error",
               "reorganized"},
}
STATUSES = sorted(LEGAL["dataset"] | LEGAL["upload"]) + ["bogus"]
DATA_EXTS = [".fastq", ".csv", ".tiff", ".txt", ".json", ".h5ad", ".arrow"]
MD_COLS = ["assay_type", "data_path", "contributors_path", "lab_id",
           "tissue_id", "donor_id"]


def _tsv(path, header, rows):
    path.write_text("\n".join("\t".join(r) for r in [header] + rows) + "\n")


def _data_files(rng, root, sub, n):
    for i in range(n):
        ext = rng.choice(DATA_EXTS)
        p = root / sub / f"sample_{i:04d}{ext}"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(f"{sub}/{i}\n")


def _contributors(rng, root):
    rows = [[f"person{i}", f"lab{rng.randrange(9)}", f"0000-000{i}",
             "TRUE" if i == 0 else "FALSE", f"p{i}@example.org"] for i in range(3)]
    _tsv(root / "contributors.tsv",
         ["name", "affiliation", "orcid_id", "is_contact", "email"], rows)


def _md_row(rng, assay, data_path, invalid):
    donor = f"D{rng.randrange(10000):04d}"
    tissue = f"X{donor}-LK-1" if invalid else f"{donor}-LK-{rng.randrange(1, 9)}"
    return [assay, data_path, "./contributors.tsv", f"lab-{rng.randrange(20)}",
            tissue, donor]


def _canon(assay):
    return re.sub("[^a-z0-9]+", "_", assay.strip().lower())


def _child_id(upload_id, data_path, assay):
    key = "|".join([upload_id, data_path, _canon(assay)]).encode()
    return "child-" + hashlib.sha256(key).hexdigest()[:12]


def make_upload(rng, root, upload_id, kind, n_files, invalid, assay=None):
    """Writes one tree; returns (expected ingest outcome, reorganize plan)."""
    root.mkdir(parents=True)
    _contributors(rng, root)
    if kind == "multiassay":
        family = rng.choice(FAMILIES)
        has_global = rng.random() < 0.5
        per = max(1, (n_files - len(family) - 1 - int(has_global)) // len(family))
        rows, children, moves = [], [], 0
        for assay in family:
            sub = _canon(assay)
            row = _md_row(rng, assay, f"./{sub}", False)
            _tsv(root / f"{sub}-metadata.tsv", MD_COLS, [row])
            _data_files(rng, root, sub, per)
            rows.append(row)
            children.append(_child_id(upload_id, f"./{sub}", assay))
            moves += per
        if has_global:
            (root / "global").mkdir()
            (root / "global" / "shared.txt").write_text("shared\n")
            moves += len(family)
        files = 1 + len(family) * (per + 1) + int(has_global)
        outcome = {"collection": "multiassay_metadatatsv",
                   "workflow": ASSAYS[family[0]], "status": "valid", "files": files}
        return outcome, {"children": sorted(children), "moves": moves}
    assay = assay or rng.choice(sorted(ASSAYS))
    _tsv(root / "upload-metadata.tsv", MD_COLS, [_md_row(rng, assay, "./raw", invalid)])
    fixed = 2
    if kind == "epic":
        (root / "derived" / "seg").mkdir(parents=True)
        (root / "derived" / "seg" / "mask.tiff").write_text("mask\n")
        fixed = 3
    _data_files(rng, root, "raw", n_files - fixed)
    return {"collection": "epic_metadata" if kind == "epic" else "generic_metadatatsv",
            "workflow": ASSAYS[assay], "status": "invalid" if invalid else "valid",
            "files": n_files}, None


def generate(out_dir, seed, rounds=1):
    rng = random.Random(seed)
    base = Path(out_dir)
    kinds = ["multiassay"] * MULTI_ASSAY + ["epic"] * EPIC
    kinds += ["generic"] * (UPLOADS - len(kinds))
    rng.shuffle(kinds)
    single_ix = [i for i, k in enumerate(kinds) if k != "multiassay"]
    # large trees are single-metadata uploads, so no reorganize moves 2,000 files
    large = set(rng.sample(single_ix, LARGE_TREES))
    invalid = set(rng.sample(single_ix, INVALID_TREES))
    # single-metadata uploads take the workflows in a seeded order, so every
    # rule and no_workflow runs in every run
    workflows = sorted(set(ASSAYS.values()))
    rng.shuffle(workflows)
    assays = {i: rng.choice(sorted(a for a, w in ASSAYS.items()
                                   if w == workflows[n % len(workflows)]))
              for n, i in enumerate(single_ix)}
    make_upload(rng, base / "uploads" / "warmup", "warmup", "generic", 8, False)
    uploads = []
    for i, kind in enumerate(kinds):
        uid = f"up-{i:03d}"
        n_files = (LARGE_FILES + rng.randrange(-50, 51)) if i in large \
            else rng.randint(5, 50)
        outcome, reorg = make_upload(rng, base / "uploads" / uid, uid, kind,
                                     n_files, i in invalid, assays.get(i))
        uploads.append({"upload_id": uid, "dir": f"uploads/{uid}", "kind": kind,
                        "expect": outcome, "reorg": reorg})

    # status store simulation: uuid -> (entity_type, current status)
    current = {u["upload_id"]: ("upload", "new") for u in uploads}
    initial = [[u["upload_id"], "upload", "new"] for u in uploads]
    plan_rounds = []

    def status_batch(ops):
        uuids = rng.sample(sorted(current), min(STATUS_BATCH_ROWS, len(current)))
        rows, acc, rej = [], 0, 0
        for u in uuids:
            etype, cur = current[u]
            st = cur if rng.random() < 0.2 else rng.choice(STATUSES)
            rows.append([u, etype, st])
            if st not in LEGAL[etype]:
                rej += 1
            elif st != cur:
                acc += 1
        for u, etype, st in rows:
            if st in LEGAL[etype]:
                current[u] = (etype, st)
        ops.append({"op": "update_status", "rows": rows,
                    "expect": f"accepted={acc}|rejected={rej}"})

    dup_after = set(rng.sample(range(2, UPLOADS), DUP_REQUESTS))
    dup_of = {i: rng.randrange(i) for i in dup_after}
    status_after = set(rng.sample(range(1, UPLOADS), STATUS_BATCHES))
    for r in range(rounds):
        ops = []
        for i, u in enumerate(uploads):
            e = u["expect"]
            ds = f"ds-{r}-{i:03d}"
            ops.append({"op": "request_ingest", "run_id": f"run-{seed}-{r}-{i:03d}",
                        "dir": u["dir"], "dataset_id": ds,
                        "expect": "{collection}|{workflow}|{status}|files={files}".format(**e)})
            current[ds] = ("dataset", e["status"])
            if u["reorg"]:
                ops.append({"op": "reorganize", "upload_id": u["upload_id"], "dir": u["dir"],
                            "expect": "children={}|moves={}".format(
                                ",".join(u["reorg"]["children"]), u["reorg"]["moves"])})
                current[u["upload_id"]] = ("upload", "reorganized")
                for c in u["reorg"]["children"]:
                    current[c] = ("dataset", "submitted")
            if i in dup_after:
                ops.append({"op": "request_ingest", "run_id": f"run-{seed}-{r}-{dup_of[i]:03d}",
                            "dir": uploads[dup_of[i]]["dir"], "dataset_id": "ds-repeat",
                            "expect": "deduplicated"})
            if i in status_after:
                status_batch(ops)
        plan_rounds.append(ops)
    plan = {"initial_status": initial, "rounds": plan_rounds}
    (base / "plan.json").write_text(json.dumps(plan, indent=1, sort_keys=True))
    return plan


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 1)
