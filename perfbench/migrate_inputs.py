"""Seeded inputs, expectations and output checks for the `migrate_etl`
workload.

`generate(seed, out_dir, n_customers, n_mapping)` writes an Enfinity
customer export (`export.xml`) and a migration list (`mapping.csv`)
with the FIXTURES.md A1/A2 mix, and returns what the migration job
must produce for them. The expectations come from a plain-Python
re-statement of the migration contract (`pro_etl_spark.ops.migration.
apply_migration` and `migrate_cli.reconcile` docstrings), computed
here from the generated records, never from the engine:

- found/total and the (status, reason) counts of the log;
- a digest of the delta XML's records: each record canonicalised
  (attribute and user order ignored, profile creation date masked,
  because it carries the run date) and the sorted list hashed.

`check(expected, result)` compares a finished run's files against
that and returns the list of mismatches (empty when correct).
"""

from __future__ import annotations

import csv
import hashlib
import json
import random
import xml.etree.ElementTree as ET

NSMAP = {
    "i": "http://www.intershop.com/xml/ns/intershop/customer/impex/7.3",
    "dt": "http://www.intershop.com/xml/ns/enfinity/6.5/core/impex-dt",
    "xsi": "http://www.w3.org/2001/XMLSchema-instance",
}
DT_ATTR = "{%s}dt" % NSMAP["dt"]

DELIVERY_VALID = [f"-{d}D" for d in range(1, 10)]
DELIVERY_INVALID = ["-12D", "+1D", "3D", "-0D", "D"]
REASON_OK = "Found in source XML file"
REASON_INVALID = "Invalid value! Please check CSV input file (delivery_day)"
REASON_NOT_FOUND = "Not found in source XML"
MASK = "<run-date>"


def _esc(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _attrs_xml(attrs, indent: str) -> list[str]:
    if attrs is None:
        return []
    if not attrs:
        return [f"{indent}<custom-attributes/>"]
    out = [f"{indent}<custom-attributes>"]
    for name, dt, value in attrs:
        out.append(f'{indent}  <custom-attribute name="{name}" dt:dt="{dt}">'
                   f"{_esc(value)}</custom-attribute>")
    out.append(f"{indent}</custom-attributes>")
    return out


def _make_customer(rng: random.Random, cid: str) -> dict:
    """One export record with the A2 variety: optional attribute
    containers, MEK_Company Mekonomen or other, 1-3 users, CG_Mekonomen
    present or absent, LastOrderDate / last-logged-in present or
    absent, and user fields that equal the customer id."""
    attrs = None
    if rng.random() < 0.9:
        attrs = []
        for name, p, dt, value in (
            ("MEK_Store_Id", 0.7, "string", f"S{rng.randrange(1000)}"),
            ("MEK_Store_Name", 0.7, "string",
             rng.choice(["Old Store", "Bil & Co", "Verkstad <Nord>"])),
            ("MEK_DataAreaID", 0.5, "string", f"DA{rng.randrange(50)}"),
            ("MEK_SourceID", 0.3, "string", f"SR{rng.randrange(50)}"),
            ("MEK_WarehouseID", 0.3, "string", f"W{rng.randrange(90)}"),
            ("MEK_Company", 0.8, "string",
             "Mekonomen" if rng.random() < 0.5 else "Sorensen"),
            ("MEK_DefaultDeliveryday", 0.4, "string", rng.choice(DELIVERY_VALID)),
            ("MEK_CustomerOrderNumberMandatory", 0.3, "boolean",
             rng.choice(["true", "false"])),
            ("Segment", 0.3, "string", rng.choice(["A", "B", ""])),
        ):
            if rng.random() < p:
                attrs.append((name, dt, value))
    users = []
    for _ in range(rng.randint(1, 3)):
        groups = [g for g, p in (("CG_Mekonomen", 0.4), ("CG_Other", 0.6),
                                 ("CG_B2B", 0.3)) if rng.random() < p]
        uattrs = None
        if rng.random() < 0.8:
            uattrs = []
            if rng.random() < 0.5:
                uattrs.append(("LastOrderDate", "string", "2024-03-0%d" % rng.randint(1, 9)))
            if rng.random() < 0.5:
                uattrs.append(("Keep", "string", "yes"))
            if rng.random() < 0.2:
                uattrs.append(("RefId", "string", cid))
        creds = None
        if rng.random() < 0.9:
            creds = {"login": cid if rng.random() < 0.1 else f"u{cid}-{len(users)}"}
            if rng.random() < 0.5:
                creds["last-logged-in"] = "2024-06-01T08:00:00"
        users.append({
            "bp": cid if rng.random() < 0.3 else f"BP{rng.randrange(10**6)}",
            "default": cid if rng.random() < 0.6 else f"C{rng.randrange(10**6)}",
            "groups": groups,
            "attrs": uattrs,
            "creds": creds,
            "created": "2019-05-05T00:00:00+00:00",
        })
    return {"id": cid, "attrs": attrs, "users": users}


def _customer_xml(c: dict) -> str:
    lines = [f'  <customer id="{c["id"]}">']
    lines += _attrs_xml(c["attrs"], "    ")
    for u in c["users"]:
        lines.append(f'    <user business-partner-no="{u["bp"]}">')
        lines.append(f"      <default-customer>{u['default']}</default-customer>")
        if u["groups"]:
            lines.append("      <user-groups>")
            lines += [f'        <user-group id="{g}"/>' for g in u["groups"]]
            lines.append("      </user-groups>")
        else:
            lines.append("      <user-groups/>")
        lines += _attrs_xml(u["attrs"], "      ")
        if u["creds"] is not None:
            lines.append("      <credentials>")
            lines += [f"        <{k}>{v}</{k}>" for k, v in u["creds"].items()]
            lines.append("      </credentials>")
        lines.append("      <profile>")
        lines.append(f"        <creation-date>{u['created']}</creation-date>")
        lines.append("      </profile>")
        lines.append("    </user>")
    lines.append("  </customer>")
    return "\n".join(lines)


def _unknown_id(rng: random.Random) -> str:
    """An id absent from the export; a third are non-ASCII."""
    base = str(rng.randrange(10**6, 10**7))
    if rng.random() < 1 / 3:
        i = rng.randrange(1, len(base))
        return base[:i] + rng.choice("ÖÄÅü") + base[i:]
    return "U" + base


def _mapping_rows(rng: random.Random, ids: list[str], n: int) -> list[list[str]]:
    """The A1 mix: ~20% unknown ids, ~5% duplicate keys (a later row
    for a key already listed, ignored by first-row-wins), and empty,
    valid and invalid delivery days."""
    known = rng.sample(ids, int(n * 0.75))
    rows = []
    for cid in known:
        rows.append([cid])
    for _ in range(int(n * 0.2)):
        rows.append([_unknown_id(rng)])
    rng.shuffle(rows)
    for _ in range(n - len(rows)):
        pos = rng.randrange(len(rows))
        rows.insert(rng.randrange(pos, len(rows)) + 1, [rows[pos][0]])
    for r in rows:
        u = rng.random()
        delivery = ("" if u < 0.2 else rng.choice(DELIVERY_INVALID) if u < 0.35
                    else rng.choice(DELIVERY_VALID))
        src, store = rng.randrange(20), rng.randrange(300)
        r += [f"N{r[0]}", f"SRC{src}", f"ST{store}",
              rng.choice([f"Store {store}", f"Bil & Co {store}"]),
              rng.choice(["true", "false", "TRUE", ""]), delivery]
    return rows


def _migrated(c: dict, m: list[str]) -> tuple:
    """Canonical delta-XML record for customer `c` migrated with
    mapping row `m`, per the apply_migration contract."""
    _, new_id, src, store, store_name, mandatory, delivery = m
    old = c["id"]
    by_name = {"MEK_Store_Id": store, "MEK_WarehouseID": store,
               "MEK_Store_Name": store_name, "MEK_DataAreaID": src,
               "MEK_SourceID": src}
    attrs = [(n, dt, by_name.get(n, v)) for n, dt, v in (c["attrs"] or [])]
    upserts = [("MEK_DefaultDeliveryday", "string", delivery or "-3D")]
    if mandatory:
        upserts.append(("MEK_CustomerOrderNumberMandatory", "boolean", mandatory.lower()))
    for name, dt, value in upserts:
        if any(a[0] == name for a in attrs):
            attrs = [(n, dt, value) if n == name else (n, d, v) for n, d, v in attrs]
        else:
            attrs.append((name, dt, value))

    def sub(v):
        return new_id if v == old else v

    users = []
    for u in c["users"]:
        groups = u["groups"] + ([] if "CG_Mekonomen" in u["groups"] else ["CG_Mekonomen"])
        uattrs = [(n, dt, sub(v)) for n, dt, v in (u["attrs"] or []) if n != "LastOrderDate"]
        creds = {k: sub(v) for k, v in (u["creds"] or {}).items() if k != "last-logged-in"}
        users.append((sub(u["bp"]), sub(u["default"]), tuple(sorted(groups)),
                      tuple(sorted(uattrs)), tuple(sorted(creds.items())), MASK))
    return (new_id, tuple(sorted(attrs)), tuple(sorted(users)))


def _digest(records) -> str:
    blob = json.dumps(sorted(records), ensure_ascii=False, separators=(",", ":"))
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


def generate(seed: int, out_dir: str, n_customers: int, n_mapping: int) -> dict:
    """Write `export.xml` and `mapping.csv` under `out_dir`; return
    the expected outcome of migrating them."""
    rng = random.Random(seed)
    ids = [str(i) for i in rng.sample(range(10**5, 10**6), n_customers)]
    customers = {cid: _make_customer(rng, cid) for cid in ids}
    ns = "".join(f' xmlns:{p}="{u}"' for p, u in NSMAP.items())
    with open(f"{out_dir}/export.xml", "w", encoding="utf-8") as w:
        w.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        w.write(f'<enfinity{ns} xsi:schemaLocation="{NSMAP["i"]} customer.xsd"'
                ' major="7" minor="3">\n')
        for cid in ids:
            w.write(_customer_xml(customers[cid]) + "\n")
        w.write("</enfinity>\n")
    rows = _mapping_rows(rng, ids, n_mapping)
    with open(f"{out_dir}/mapping.csv", "w", encoding="utf-8", newline="") as w:
        out = csv.writer(w, lineterminator="\n")
        out.writerow(["current_customer_id", "new_customer_id", "new_source_id",
                      "new_store_id", "new_store_name", "mandatory_reference",
                      "delivery_day"])
        out.writerows(rows)

    first: dict[str, list[str]] = {}
    for r in rows:
        first.setdefault(r[0], r)
    statuses: dict[str, int] = {}
    records = []
    for key, r in first.items():
        if key not in customers:
            status = ("Not OK", REASON_NOT_FOUND)
        else:
            records.append(_migrated(customers[key], r))
            status = (("OK", REASON_OK) if (r[6] or "-3D") in DELIVERY_VALID
                      else ("Not OK", REASON_INVALID))
        label = "|".join(status)
        statuses[label] = statuses.get(label, 0) + 1
    return {
        "customers": n_customers,
        "total": len(first),
        "found": len(records),
        "statuses": statuses,
        "records_digest": _digest(records),
    }


def _read_attrs(el) -> list[tuple]:
    box = el.find("custom-attributes")
    if box is None:
        return []
    return [(a.get("name"), a.get(DT_ATTR), a.text or "")
            for a in box.findall("custom-attribute")]


def _read_records(path: str) -> list[tuple]:
    records = []
    for _, el in ET.iterparse(path):
        if el.tag != "customer":
            continue
        users = []
        for u in el.findall("user"):
            creds = u.find("credentials")
            users.append((
                u.get("business-partner-no") or "",
                u.findtext("default-customer") or "",
                tuple(sorted(g.get("id") for g in u.iter("user-group"))),
                tuple(sorted(_read_attrs(u))),
                tuple(sorted((c.tag, c.text or "") for c in (creds if creds is not None else []))),
                MASK if u.find("profile/creation-date") is not None else "",
            ))
        records.append((el.get("id"), tuple(sorted(_read_attrs(el))), tuple(sorted(users))))
        el.clear()
    return records


def check(expected: dict, result: dict) -> list[str]:
    """Mismatches between a finished run and `expected` (empty when
    correct). `result` holds the run's `found`/`total` strings and
    the `xml` file and `log` directory it wrote."""
    import glob

    problems = []
    got = (int(result["found"]), int(result["total"]))
    if got != (expected["found"], expected["total"]):
        problems.append(f"found/total {got} != {(expected['found'], expected['total'])}")
    statuses: dict[str, int] = {}
    for part in sorted(glob.glob(f"{result['log']}/part-*.csv")):
        with open(part, encoding="utf-8", newline="") as f:
            for row in csv.DictReader(f):
                label = f"{row['status']}|{row['reason']}"
                statuses[label] = statuses.get(label, 0) + 1
    if statuses != expected["statuses"]:
        problems.append(f"log statuses {statuses} != {expected['statuses']}")
    records = _read_records(result["xml"])
    if len(records) != expected["found"] or _digest(records) != expected["records_digest"]:
        problems.append(f"delta XML: {len(records)} records, digest differs from the "
                        f"{expected['found']} expected")
    return problems
