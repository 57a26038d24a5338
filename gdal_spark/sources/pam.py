"""GDAL PAM (.aux.xml) sidecar metadata — gcore/gdalpamdataset.cpp /
gdalpamrasterband.cpp twin.

Every GDAL deployment writes these Persistent Auxiliary Metadata
sidecars (statistics, nodata overrides, georeferencing for formats
that can't store it, free-form metadata domains).  `read_pam` parses
the sidecar for a raster path; `apply_pam` overlays it on a reader's
meta dict with the reference's precedence (PAM overrides the driver's
intrinsic values — TryLoadXML runs after the format's own georef is
read, and its SetGeoTransform/SetSpatialRef replace them);
`write_pam` merges into the same XML so stats/nodata computed by the
engine persist for the reference's tools to read back.

Driver-side only and bounded by construction: a sidecar is KBs of XML.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from ..core import vsi


def _load(aux: str):
    """Parsed <PAMDataset> root of a sidecar, or None if absent."""
    try:
        data = vsi.read_all(aux)
    except (FileNotFoundError, OSError):
        return None
    text = data.decode("utf-8", "replace")
    # the reference's CPLXML tolerates embedded <?xml?> declarations
    # inside xml:* metadata payloads; strip any not at the very start
    head, _, rest = text.partition(">")
    rest = re.sub(r"<\?xml[^>]*\?>", "", rest)
    root = ET.fromstring(head + ">" + rest)
    return root if root.tag == "PAMDataset" else None


def read_pam(path: str) -> dict | None:
    """Raster path -> parsed `<path>.aux.xml` dict, or None if absent.

    Keys: srs, geotransform (6-tuple), metadata {domain: {k: v}},
    gcps [{id, pixel, line, x, y, z}], gcp_projection,
    bands {band_no: {nodata, description, metadata, category_names,
    color_interp}}."""
    root = _load(path + ".aux.xml")
    if root is None:
        return None
    out = {"srs": None, "geotransform": None, "metadata": {},
           "gcps": [], "gcp_projection": None, "bands": {}}
    srs = root.find("SRS")
    if srs is not None and srs.text:
        out["srs"] = srs.text.strip()
    gt = root.find("GeoTransform")
    if gt is not None and gt.text:
        vals = [float(v) for v in gt.text.split(",")]
        if len(vals) == 6:
            out["geotransform"] = tuple(vals)
    for md in root.findall("Metadata"):
        domain = md.get("domain", "")
        if md.get("format") == "xml":
            # xml:* domains carry a raw XML payload, kept verbatim
            inner = "".join(ET.tostring(c, encoding="unicode")
                            for c in md)
            out["metadata"][domain] = inner.strip()
            continue
        dom = out["metadata"].setdefault(domain, {})
        for mdi in md.findall("MDI"):
            dom[mdi.get("key")] = (mdi.text or "").strip()
    gl = root.find("GCPList")
    if gl is not None:
        out["gcp_projection"] = gl.get("Projection")
        for g in gl.findall("GCP"):
            out["gcps"].append({
                "id": g.get("Id", ""),
                "pixel": float(g.get("Pixel", 0)),
                "line": float(g.get("Line", 0)),
                "x": float(g.get("X", 0)), "y": float(g.get("Y", 0)),
                "z": float(g.get("Z", 0))})
    for pb in root.findall("PAMRasterBand"):
        b = int(pb.get("band", "1"))
        band = {}
        nd = pb.find("NoDataValue")
        if nd is not None and nd.text:
            band["nodata"] = float(nd.text.strip())
        desc = pb.find("Description")
        if desc is not None and desc.text:
            band["description"] = desc.text.strip()
        ci = pb.find("ColorInterp")
        if ci is not None and ci.text:
            band["color_interp"] = ci.text.strip()
        cats = pb.find("CategoryNames")
        if cats is not None:
            band["category_names"] = [
                (c.text or "") for c in cats.findall("Category")]
        band_md = {}
        for md in pb.findall("Metadata"):
            dom = band_md.setdefault(md.get("domain", ""), {})
            for mdi in md.findall("MDI"):
                dom[mdi.get("key")] = (mdi.text or "").strip()
        if band_md:
            band["metadata"] = band_md
        out["bands"][b] = band
    return out


def apply_pam(meta: dict, pam: dict | None) -> dict:
    """Overlay PAM onto a reader's meta dict (PAM wins — the
    reference's TryLoadXML order). Returns the same dict, mutated."""
    if not pam:
        return meta
    if pam["geotransform"] is not None:
        meta["geotransform"] = pam["geotransform"]
    if pam["srs"]:
        meta["srs"] = pam["srs"]
    if pam["gcps"]:
        meta["gcps"] = pam["gcps"]
        meta["gcp_projection"] = pam["gcp_projection"]
    for b, band in pam["bands"].items():
        if "nodata" in band:
            meta.setdefault("band_nodata", {})[b] = band["nodata"]
            if b == 1 and "nodata" in meta:
                meta["nodata"] = band["nodata"]
    if pam["metadata"]:
        meta.setdefault("metadata", {})
        for dom, kv in pam["metadata"].items():
            if isinstance(kv, dict):
                meta["metadata"].setdefault(dom, {}).update(kv)
            else:
                meta["metadata"][dom] = kv
    return meta


def _child(parent, tag: str, **attrib):
    """The `tag` child carrying these attributes ("" = absent), created
    ahead of the band elements when missing."""
    for c in parent.findall(tag):
        if all(c.get(k, "") == v for k, v in attrib.items()):
            return c
    el = ET.Element(tag, {k: v for k, v in attrib.items() if v})
    at = next((i for i, c in enumerate(parent)
               if c.tag == "PAMRasterBand"), len(parent))
    parent.insert(len(parent) if tag == "PAMRasterBand" else at, el)
    return el


def write_pam(path: str, *, geotransform=None, srs: str | None = None,
              metadata: dict | None = None,
              band_stats: dict | None = None,
              band_nodata: dict | None = None) -> str:
    """Merge into `<path>.aux.xml` (the reference's PAM serializer shape:
    statistics land as STATISTICS_* MDI keys on the band, exactly what
    GDALRasterBand::SetStatistics persists). Whatever the sidecar already
    holds and this call does not set is kept, so `gdal raster edit` and
    `gdalinfo -stats` do not erase each other."""
    aux = path + ".aux.xml"
    root = _load(aux)
    if root is None:
        root = ET.Element("PAMDataset")
    if srs:
        _child(root, "SRS").text = srs
    if geotransform is not None:
        _child(root, "GeoTransform").text = ", ".join(
            f"{v:.16e}" for v in geotransform)
    for dom, kv in (metadata or {}).items():
        md = _child(root, "Metadata", domain=dom)
        for k, v in kv.items():
            _child(md, "MDI", key=k).text = str(v)
    for b, nod in (band_nodata or {}).items():
        _child(_child(root, "PAMRasterBand", band=str(b)),
               "NoDataValue").text = f"{nod:.14e}"
    for b, st in (band_stats or {}).items():
        md = _child(_child(root, "PAMRasterBand", band=str(b)),
                    "Metadata", domain="")
        for key in ("minimum", "maximum", "mean", "stddev",
                    "valid_percent"):
            if key in st:
                _child(md, "MDI",
                       key=f"STATISTICS_{key.upper()}").text = str(st[key])
    ET.indent(root)
    with open(aux, "w") as f:
        f.write(ET.tostring(root, encoding="unicode") + "\n")
    return aux
