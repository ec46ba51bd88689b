"""Seeded SBOM documents for the sbom_ingest workload, and the benchmark's
own model of the rows the reference pipeline must store for them.

The documents cover:
- every position of the CycloneDX license fallback chain
  (licenses[0].license.id, .license.name, .id, .name, .expression, the
  spdx:license-concluded and spdx:license-declared properties, none);
- every document source-reference strategy (spdx:document:name property,
  metadata.component.name, metadata.component.bom-ref, top-level name,
  first non-generator tool, file name) and component-level sources (one
  per repository, so each insert adds a file to that partition and the
  round's compaction has small files to merge);
- 'unknown' licenses that the mapping file resolves, and some it does not;
- GitHub-wrapped ({"sbom": ...}) and plain CycloneDX, and SPDX (wrapped
  and plain) that the pipeline converts to CycloneDX;
- components repeated across documents, so merge mode has keys to drop.

`expected_rows` restates the reference rules (entrypoint.sh license and
source chains, the mapping step, the merge dedup key) in plain Python.
"""
import json
import re

import numpy as np

REPOS = ["acme/web-shop", "acme/billing-api", "acme/batch-worker"]
DOCS_PER_ROUND = 6          # two per repository
MERGE_DOCS = 4
DENYLIST = re.compile("GitHub.com-Dependency|protobom|CycloneDX|cyclonedx-merge")
LICENSES = ["MIT", "Apache-2.0", "BSD-3-Clause", "GPL-3.0", "ISC", "MPL-2.0"]
LIC_SLOTS = ["license.id", "license.name", "id", "name", "expression",
             "prop-concluded", "prop-declared", "none", "literal-unknown"]
SOURCE_STRATEGIES = ["property", "component-name", "bom-ref", "top-name",
                     "tool", "filename"]
WORDS = ["core", "util", "http", "json", "log", "crypto", "yaml", "test",
         "xml", "cli", "io", "net", "db", "cache", "auth", "time"]


def table_name(repo):
    return re.sub("[^a-zA-Z0-9]", "_", repo).lower()


def _package_pool(rng, n):
    """Component identities shared by all documents of a run."""
    pool = []
    for i in range(n):
        name = f"{WORDS[rng.integers(len(WORDS))]}-{WORDS[rng.integers(len(WORDS))]}-{i}"
        version = f"{rng.integers(0, 5)}.{rng.integers(0, 20)}.{rng.integers(0, 10)}"
        pool.append((name, version, f"pkg:npm/{name}@{version}"))
    return pool


def _cdx_component(rng, pkg, slot, comp_source):
    name, version, purl = pkg
    lic = LICENSES[rng.integers(len(LICENSES))]
    c = {"type": "library", "name": name, "version": version, "purl": purl}
    if slot == "license.id":
        c["licenses"] = [{"license": {"id": lic}}]
    elif slot == "license.name":
        c["licenses"] = [{"license": {"name": lic + " License"}}]
    elif slot == "id":
        c["licenses"] = [{"id": lic}]
    elif slot == "name":
        c["licenses"] = [{"name": lic + " (name)"}]
    elif slot == "expression":
        c["licenses"] = [{"expression": f"{lic} OR Apache-2.0"}]
    elif slot == "prop-concluded":
        c["properties"] = [{"name": "spdx:license-declared", "value": "Zlib"},
                           {"name": "spdx:license-concluded", "value": lic}]
    elif slot == "prop-declared":
        c["properties"] = [{"name": "other", "value": "x"},
                           {"name": "spdx:license-declared", "value": lic}]
    elif slot == "literal-unknown":
        c["licenses"] = [{"license": {"id": "unknown"}}]
    if comp_source is not None:
        c["source"] = comp_source
    return c


def _cdx_doc(rng, pkgs, strategy, doc_tag, vendor):
    comps = []
    for k, pkg in enumerate(pkgs):
        slot = LIC_SLOTS[(k + rng.integers(len(LIC_SLOTS))) % len(LIC_SLOTS)]
        comp_source = f"vendored-{vendor}" if rng.integers(0, 8) == 0 else None
        comps.append(_cdx_component(rng, pkg, slot, comp_source))
    doc = {"bomFormat": "CycloneDX", "specVersion": "1.6", "version": 1,
           "metadata": {"timestamp": "2025-01-01T00:00:00Z"}, "components": comps}
    md = doc["metadata"]
    gen_tool = {"vendor": "GitHub", "name": "GitHub.com-Dependency-Graph", "version": "1"}
    if strategy == "property":
        md["properties"] = [{"name": "x:other", "value": "skip"},
                            {"name": "spdx:document:name", "value": f"com.github.{doc_tag}"}]
    elif strategy == "component-name":
        md["component"] = {"type": "application", "name": f"app-{doc_tag}"}
    elif strategy == "bom-ref":
        md["component"] = {"type": "application", "bom-ref": f"ref-{doc_tag}"}
    elif strategy == "top-name":
        doc["name"] = f"top-{doc_tag}"
        md["tools"] = [gen_tool]
    elif strategy == "tool":
        md["tools"] = [gen_tool, {"vendor": "x", "name": f"scanner-{doc_tag}", "version": "2"}]
    else:  # filename: nothing in the document names its source
        md["tools"] = [gen_tool]
    return doc


def _spdx_doc(rng, pkgs, doc_tag, named):
    packages = []
    for k, (name, version, _purl) in enumerate(pkgs):
        p = {"name": name, "SPDXID": f"SPDXRef-{k}", "versionInfo": version,
             "externalRefs": [{"referenceCategory": "PACKAGE-MANAGER",
                               "referenceType": "purl", "referenceLocator": "x"}]}
        which = (k + rng.integers(3)) % 3
        if which == 0:
            p["licenseConcluded"] = LICENSES[rng.integers(len(LICENSES))]
        elif which == 1:
            p["licenseDeclared"] = LICENSES[rng.integers(len(LICENSES))]
        if rng.integers(0, 10) == 0:
            del p["versionInfo"]
        packages.append(p)
    doc = {"spdxVersion": "SPDX-2.3", "SPDXID": "SPDXRef-DOCUMENT", "packages": packages}
    if named:
        doc["name"] = f"spdx-{doc_tag}"
    return doc


def generate(seed, n_components=160):
    """Return (round_docs, merge_docs, mapping) for one run.

    round_docs: the documents one round ingests, in order; each a dict with
    repo, s3_key, kind, doc (the model's view) and payload (the fetched
    text). merge_docs: {file name: document text} for the merge-mode bucket.
    mapping: the license-mappings.json object.
    """
    rng = np.random.default_rng([seed, 5309])
    pool = _package_pool(rng, n_components * 3)
    mapped_names = [pool[i][0] for i in range(0, len(pool), 2)]
    mapping = {name: LICENSES[rng.integers(len(LICENSES))] for name in mapped_names}
    kinds = ["cdx-wrapped", "cdx-plain", "spdx-wrapped", "cdx-plain", "spdx-plain", "cdx-wrapped"]
    docs = []
    for d in range(DOCS_PER_ROUND):
        repo = REPOS[d % len(REPOS)]
        tag = f"{table_name(repo)}-{d}"
        # overlapping windows of the pool: neighbours share components
        start = int(rng.integers(0, len(pool) - n_components))
        pkgs = pool[start:start + n_components]
        kind = kinds[d]
        if kind.startswith("cdx"):
            doc = _cdx_doc(rng, pkgs, SOURCE_STRATEGIES[d % len(SOURCE_STRATEGIES)], tag,
                           table_name(repo))
        else:
            doc = _spdx_doc(rng, pkgs, tag, named=(kind == "spdx-wrapped"))
        payload = {"sbom": doc} if kind.endswith("wrapped") else doc
        docs.append({"repo": repo, "s3_key": f"{tag}.json", "kind": kind, "doc": doc,
                     "payload": json.dumps(payload)})
    merge = {}
    shared = pool[:n_components // 2]
    for m in range(MERGE_DOCS):
        strategy = SOURCE_STRATEGIES[(m + 3) % len(SOURCE_STRATEGIES)]
        doc = _cdx_doc(rng, shared + pool[n_components * (m % 2) + 7:][:n_components // 2],
                       strategy, f"merge{m % 2}", "merge")
        merge[f"part-{m}.json"] = json.dumps(doc)
    # a document merge mode must skip (not CycloneDX) ...
    merge["notes-spdx.json"] = json.dumps(_spdx_doc(rng, pool[:5], "skip", named=True))
    # ... and a stale merged artifact the exclude pattern must skip
    merge["merged-old.json"] = json.dumps(_cdx_doc(rng, pool[:5], "component-name", "stale", "stale"))
    return docs, merge, mapping


# ---------------------------------------------------------------- the model

def _first_prop(props, name):
    for p in props or []:
        if p.get("name") == name:
            return p.get("value")
    return None


def _doc_source(doc, file_stem):
    md = doc.get("metadata") or {}
    comp = md.get("component") or {}
    tool = None
    for t in md.get("tools") or []:
        n = t.get("name")
        if n is not None and not DENYLIST.search(n):
            tool = n
            break
    for v in (_first_prop(md.get("properties"), "spdx:document:name"), comp.get("name"),
              comp.get("bom-ref"), doc.get("name"), tool, file_stem):
        if v is not None:
            return v
    return None


def _cdx_license(c):
    lic0 = (c.get("licenses") or [None])[0] or {}
    lic = lic0.get("license") or {}
    for v in (lic.get("id"), lic.get("name"), lic0.get("id"), lic0.get("name"),
              lic0.get("expression"), _first_prop(c.get("properties"), "spdx:license-concluded"),
              _first_prop(c.get("properties"), "spdx:license-declared")):
        if v is not None:
            return v
    return "unknown"


def _flatten_cdx(doc, file_stem):
    src = _doc_source(doc, file_stem)
    rows = []
    for c in doc.get("components") or []:
        rows.append((c.get("name") or "unknown", c.get("version") or "unknown",
                     _cdx_license(c), c.get("source") or src or "unknown", c.get("purl")))
    return rows


def _spdx_as_cdx(doc):
    """The SPDX -> CycloneDX conversion the pipeline runs before flattening."""
    return {"bomFormat": "CycloneDX",
            "metadata": {"component": {"name": doc.get("name") or "extracted_sbom"}},
            "components": [{"name": p["name"], "version": p.get("versionInfo") or "unknown",
                            "licenses": [{"license": {"id": p.get("licenseConcluded")
                                                      or p.get("licenseDeclared")
                                                      or "NOASSERTION"}}]}
                           for p in doc["packages"]]}


def _map(rows, mapping):
    return [(n, v, (mapping.get(n, "unknown") if lic in ("unknown", "", "null") else lic), s, p)
            for (n, v, lic, s, p) in rows]


def expected_rows(entry, mapping):
    """Rows (name, version, license, source, purl) one SbomPipeline.run of a
    round document appends to its repository's table."""
    doc = entry["doc"]
    if doc.get("spdxVersion"):
        doc = _spdx_as_cdx(doc)
    return _map(_flatten_cdx(doc, entry["s3_key"][:-len(".json")]), mapping)


def expected_merged(merge_docs, mapping):
    """Rows the merge-mode run stores: CycloneDX documents of the bucket
    (exclude pattern 'merged*' applied), deduplicated by
    name@version#purl^source keeping the smallest license."""
    best = {}
    for fname, text in sorted(merge_docs.items()):
        if fname.startswith("merged"):
            continue
        doc = json.loads(text)
        if doc.get("bomFormat") != "CycloneDX" and not (doc.get("metadata") or {}).get("component"):
            continue
        for (n, v, lic, s, p) in _flatten_cdx(doc, fname[:-len(".json")]):
            key = (n, v, p, s)
            if key not in best or lic < best[key]:
                best[key] = lic
    return _map([(n, v, lic, s, p) for (n, v, p, s), lic in best.items()], mapping)
