"""Seeded generator for the ingest workload's XML corpus.

Files have the shape the pipeline was built for: a business-key comment
(`<!-- Division:North -->`), records with attributes, a nested `<detail>`
block and a repeated `<tag>`. `schema.xsd` describes them. Chosen files are
invalid on purpose (an XSD violation, or a truncated file), and the
generator returns the ground truth the benchmark checks the pipeline
against: which files are invalid and how many records the valid ones hold.
The same arguments always give byte-identical files.
"""
import os
import random

DIVISIONS = ["North", "South", "East", "West"]
STATUSES = ["active", "retired", "pending"]

XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="catalog">
    <xs:complexType><xs:sequence>
      <xs:element name="record" maxOccurs="unbounded">
        <xs:complexType>
          <xs:sequence>
            <xs:element name="title" type="xs:string"/>
            <xs:element name="region" type="xs:string"/>
            <xs:element name="price" type="xs:decimal"/>
            <xs:element name="detail">
              <xs:complexType><xs:sequence>
                <xs:element name="total" type="xs:decimal"/>
                <xs:element name="qty" type="xs:integer"/>
              </xs:sequence></xs:complexType>
            </xs:element>
            <xs:element name="tag" type="xs:string" maxOccurs="unbounded"/>
          </xs:sequence>
          <xs:attribute name="id" type="xs:string" use="required"/>
          <xs:attribute name="status" type="xs:string"/>
        </xs:complexType>
      </xs:element>
    </xs:sequence></xs:complexType>
  </xs:element>
</xs:schema>
"""


def file_text(rng, first_id, records, regions, bad=None):
    """One catalog file. `bad` is None, "xsd" (one record breaks the
    schema) or "truncated" (the document stops mid-record)."""
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n',
           f"<!-- Division:{rng.choice(DIVISIONS)} -->\n", "<catalog>\n"]
    broken = rng.randrange(records) if bad == "xsd" else -1
    for r in range(records):
        rid = first_id + r
        price = rng.randrange(100, 99900) / 100
        qty = rng.randrange(1, 9)
        price_text = "n/a" if r == broken else f"{price:.2f}"
        out.append(
            f'  <record id="{rid}" status="{rng.choice(STATUSES)}">\n'
            f"    <title>Item {rid} {rng.getrandbits(40):010x}</title>\n"
            f"    <region>{rng.choice(regions)}</region>\n"
            f"    <price>{price_text}</price>\n"
            f"    <detail>\n      <total>{price * qty:.2f}</total>\n"
            f"      <qty>{qty}</qty>\n    </detail>\n"
            f"    <tag>tag{rng.randrange(11)}</tag>\n"
            f"    <tag>tag{rng.randrange(7)}</tag>\n"
            "  </record>\n")
    out.append("</catalog>\n")
    text = "".join(out)
    if bad == "truncated":
        text = text[: len(text) // 2]
    return text


def write_files(rng, out_dir, prefix, n_files, records, first_id, regions,
                n_xsd_bad=0, n_truncated=0):
    """Writes `n_files` files; the first `n_xsd_bad` positions chosen by
    `rng` break the schema and the next `n_truncated` are cut short.
    Returns (bytes, valid_records, invalid_file_names)."""
    os.makedirs(out_dir, exist_ok=True)
    bad_at = rng.sample(range(n_files), n_xsd_bad + n_truncated)
    kinds = dict.fromkeys(bad_at[:n_xsd_bad], "xsd")
    kinds.update(dict.fromkeys(bad_at[n_xsd_bad:], "truncated"))
    total, valid, invalid = 0, 0, []
    for f in range(n_files):
        name = f"{prefix}{f:04d}.xml"
        text = file_text(rng, first_id, records, regions, kinds.get(f))
        first_id += records
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        total += len(data)
        if f in kinds:
            invalid.append(name)
        else:
            valid += records
    return total, valid, sorted(invalid)


def write_xsd(schema_dir):
    os.makedirs(schema_dir, exist_ok=True)
    with open(os.path.join(schema_dir, "schema.xsd"), "w") as fh:
        fh.write(XSD)
