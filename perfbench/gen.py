"""Seeded inputs for the import-churn workload.

Writes STAC graphs and their asset files under `<root>/staging/`, plants
validation failures, and records for every version the `Report` that
`ImportStatus.get` must return for it. The benchmark's `UrlReader`
(`StagingReader` in scala/LakeBench.scala) maps `s3://staging/<key>` to
`<root>/staging/<key>`, so the program only ever sees the generated files.

Everything derives from `random.Random(seed)`: the same seed writes the
same bytes and the same `manifest.json`.
"""
import hashlib
import json
import os
import random

STAC_VERSION = "1.0.0-rc.3"
SCHEME = "s3://staging/"

# Small FIXTURES §2-shaped versions (catalog, collection and item
# documents, two 20-byte assets) over two datasets: per-import fixed cost
# and store reads beside writes dominate. A pass imports five versions;
# the seed picks which one carries a planted failure, and of which kind.
# Every version has the same files and sizes for every seed.
VERSIONS = 5
DATASETS = 2
ASSET_BYTES = 20
FAILURES = ("checksum_mismatch", "missing_asset", "schema_invalid",
            "unsupported_multihash")


def multihash(data, code):
    """Hex multihash as STAC `file:checksum` carries it."""
    if code == 0x12:
        return "1220" + hashlib.sha256(data).hexdigest()
    if code == 0x13:
        return "1340" + hashlib.sha512(data).hexdigest()
    raise ValueError(f"no digest for code 0x{code:02x}")


def report(errors=()):
    """The ImportStatus.get Report of a version: passed when `errors` is
    empty, otherwise validation Failed and both uploads Skipped."""
    ok = not errors
    upload = {"status": "Complete" if ok else "Skipped", "errors": []}
    return {"stepFunction": "Succeeded",
            "validation": {"status": "Passed" if ok else "Failed",
                           "errors": list(errors)},
            "metadataUpload": dict(upload), "assetUpload": dict(upload)}


def error(check, url, message=None):
    e = {"check": check, "result": "Failed", "url": url}
    if message is not None:
        e["message"] = message
    return e


def write_version(root, rng, key, failure=None):
    """catalog → collection → item, one asset on each of the last two;
    `failure` plants one defect on the item or its asset. Returns the
    version's manifest entry."""
    def put(name, data):
        path = os.path.join(root, "staging", key, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        return path

    assets = []  # (name, relative path, multihash)

    def asset(name):
        data = rng.randbytes(ASSET_BYTES)
        mh = multihash(data, rng.choice((0x12, 0x13)))
        assets.append((name, os.path.relpath(put(name, data), root), mh))
        return {"href": name, "file:checksum": mh}, data

    def doc_id():
        return "%032x" % rng.getrandbits(128)

    coll_asset, _ = asset("asset-collection.bin")
    item_asset, item_data = asset("asset-item.bin")
    item = {"type": "Feature", "stac_version": STAC_VERSION, "id": doc_id(),
            "geometry": None,
            "properties": {"datetime": "2020-01-01T00:00:00Z"},
            "assets": {"data": item_asset},
            "links": [{"href": "catalog.json", "rel": "root"}]}
    collection = {
        "type": "Collection", "stac_version": STAC_VERSION, "id": doc_id(),
        "description": "perfbench collection", "license": "MIT",
        "extent": {"spatial": {"bbox": [[-180, -90, 180, 90]]},
                   "temporal": {"interval": [["2000-01-01T00:00:00Z",
                                              None]]}},
        "assets": {"data": coll_asset},
        "links": [{"href": "item.json", "rel": "child"},
                  {"href": "catalog.json", "rel": "root"}]}
    catalog = {"type": "Catalog", "stac_version": STAC_VERSION,
               "id": doc_id(), "description": "perfbench catalog",
               "links": [{"href": "collection.json", "rel": "child"},
                         {"href": "catalog.json", "rel": "root"}]}

    url = f"{SCHEME}{key}/asset-item.bin"
    errors = []
    if failure == "checksum_mismatch":
        actual = hashlib.sha256(item_data).hexdigest()
        wrong = hashlib.sha256(b"not " + actual.encode()).hexdigest()
        item_asset["file:checksum"] = "1220" + wrong
        errors.append(error("checksum", url, f"Checksum mismatch: expected "
                                             f"{wrong}, got {actual}"))
    elif failure == "missing_asset":
        os.remove(os.path.join(root, assets.pop()[1]))
        errors.append(error("staging bucket access", url))
    elif failure == "unsupported_multihash":
        item_asset["file:checksum"] = \
            "1114" + hashlib.sha1(item_data).hexdigest()
        errors.append(error("checksum", url,
                            "Unsupported multihash function code 0x11"))
    elif failure == "schema_invalid":
        del item["properties"]
        errors.append(error("JSON schema", f"{SCHEME}{key}/item.json",
                            "'properties' is a required property"))
    elif failure is not None:
        raise ValueError(failure)

    docs = {"catalog.json": catalog, "collection.json": collection,
            "item.json": item}
    for name, doc in docs.items():
        put(name, json.dumps(doc, indent=1).encode())
    return {"url": f"{SCHEME}{key}/catalog.json", "failure": failure,
            "expected": report(errors), "metadata": sorted(docs),
            "assets": [{"name": n, "path": p, "multihash": mh}
                       for n, p, mh in assets]}


def plan(root, rng, prefix, datasets, failures):
    """Write one version per entry of `failures` (None: it passes), round
    robin over `datasets` datasets, and return (versions, sequence).

    A dataset is created where it is first used and read back before
    every later import into it. Each import is followed by a status read
    of its execution and, once there is one, of a seeded earlier one."""
    names = [f"{prefix}{d}" for d in range(datasets)]
    versions, seq, done = {}, [], []
    for v, failure in enumerate(failures):
        ds = names[v % len(names)]
        key = f"{ds}/v{v:03d}"
        versions[key] = dict(write_version(root, rng, key, failure),
                             dataset=ds)
        created = any(o == {"op": "create", "dataset": ds} for o in seq)
        seq.append({"op": "get" if created else "create", "dataset": ds})
        seq.append({"op": "import", "version": key})
        seq.append({"op": "status", "version": key})
        if done:
            seq.append({"op": "status", "version": rng.choice(done)})
        done.append(key)
    return versions, seq


def generate(seed, root):
    """Write the inputs under `root` and return the manifest (also
    written to `<root>/manifest.json`).

    `sequence` is the timed pass. `warmup_sequence` is the set-up's
    untimed import of one passing version of its own, which runs every
    stage, so the JVM has compiled those paths before timing."""
    rng = random.Random(f"import-churn:{seed}")
    failures = [None] * VERSIONS
    failures[rng.randrange(VERSIONS)] = rng.choice(FAILURES)
    versions, seq = plan(root, rng, "churn", DATASETS, failures)
    warm, warm_seq = plan(root, rng, "warmup", 1, (None,))
    manifest = {"seed": seed, "versions": dict(versions, **warm),
                "sequence": seq, "warmup_sequence": warm_seq}
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
