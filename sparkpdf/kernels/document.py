"""Per-document object graph navigation — SURVEY.md §2.1 (S8-S11) + §2.13.

A `PdfDocument` wraps one document's bytes: xref bootstrap, cached object
resolution (including /ObjStm-packed objects), page-tree flattening with
attribute inheritance, and metadata projection. This object lives ONLY
inside a vectorized-UDF invocation (SURVEY §1.3) — nothing graph-shaped
crosses the DataFrame boundary.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional, Tuple

from .cos import PdfError, Ref, StreamObj, parse_object, skip_ws
from .xref import _OBJ_HEADER, XRef, read_xref, rebuild_xref

# attributes pages inherit from ancestor /Pages nodes
# (parity: _reader.py:696-701)
_INHERITABLE = ("/Resources", "/MediaBox", "/CropBox", "/Rotate")


class PdfDocument:
    def __init__(self, data: bytes, password: bytes = b""):
        if not isinstance(data, (bytes, bytearray)):
            raise PdfError("PdfDocument wants bytes")
        self.buf = bytes(data)
        self.xref: XRef = read_xref(self.buf)
        # memo table, parity: resolvedObjects cache (_reader.py:895-907)
        self._cache: Dict[int, Any] = {}
        self._objstm_cache: Dict[int, List[Tuple[int, Any]]] = {}
        self._pages: Optional[List[dict]] = None
        # id(font dict) -> (font dict, Encoding), see fonts.resolve_font_encoding
        self.font_encodings: Dict[int, Tuple[dict, Any]] = {}
        self._decryptor = None
        enc = self.xref.trailer.get("/Encrypt")
        if enc is not None:
            from . import crypto

            enc_dict = self.resolve(enc)
            ids = self.xref.trailer.get("/ID") or [b"", b""]
            first_id = ids[0] if isinstance(ids, list) and ids else b""
            if isinstance(first_id, str):
                first_id = first_id.encode("latin-1", "replace")
            self._decryptor = crypto.StandardDecryptor(enc_dict, first_id, password)
            if isinstance(enc, Ref):
                self._cache[enc.idnum] = enc_dict  # never re-decrypt /Encrypt

    # -- object resolution ----------------------------------------------------

    def resolve(self, obj):
        """Follow Ref chains; non-refs pass through.  A visited set guards
        against Ref cycles (A -> B -> A), which must quarantine as PdfError
        rather than wedge an executor task (invariant 2)."""
        seen = None
        while isinstance(obj, Ref):
            key = (obj.idnum, obj.gen)
            if seen is None:
                seen = {key}
            elif key in seen:
                raise PdfError(f"indirect reference cycle at {obj.idnum} {obj.gen} R")
            else:
                seen.add(key)
            obj = self.get_object(obj.idnum, obj.gen)
        return obj

    def get_object(self, idnum: int, gen: int = 0):
        if idnum in self._cache:
            return self._cache[idnum]
        off = self.xref.offsets.get(idnum)
        if off is not None:
            obj = self._parse_at(idnum, off)
        elif idnum in self.xref.in_objstm:
            stm_num, idx = self.xref.in_objstm[idnum]
            obj = self._from_object_stream(idnum, stm_num, idx)
        elif not self.xref.rebuilt:
            rebuild_xref(self.buf, self.xref)
            self._cache.pop(idnum, None)
            return self.get_object(idnum, gen)
        else:
            return None  # unresolvable ref -> null (tolerant)
        self._cache[idnum] = obj
        return obj

    def _parse_at(self, idnum: int, off: int):
        pos = skip_ws(self.buf, off)
        m = _OBJ_HEADER.match(self.buf, pos)
        if not m or int(m.group(1)) != idnum:
            # stale/off xref entry: rebuild once, then retry
            if not self.xref.rebuilt:
                rebuild_xref(self.buf, self.xref)
                off2 = self.xref.offsets.get(idnum)
                if off2 is not None and off2 != off:
                    return self._parse_at(idnum, off2)
            raise PdfError(f"object {idnum} not at offset {off}")
        gen = int(m.group(2))
        obj, _ = parse_object(self.buf, skip_ws(self.buf, m.end()), self.resolve)
        if self._decryptor is not None:
            obj = self._decryptor.decrypt_object(obj, idnum, gen)
        return obj

    def _from_object_stream(self, idnum: int, stm_num: int, idx: int):
        """Objects packed in /ObjStm: decode once, slice per member
        (parity: _getObjectFromStream, _reader.py:734-778)."""
        members = self._objstm_cache.get(stm_num)
        if members is None:
            stm = self.resolve(Ref(stm_num, 0))
            if not isinstance(stm, StreamObj):
                raise PdfError(f"/ObjStm {stm_num} is not a stream")
            data = stm.get_data(self.resolve)
            n = int(self.resolve(stm.sdict.get("/N", 0)))
            first = int(self.resolve(stm.sdict.get("/First", 0)))
            pairs = []
            pos = 0
            for _ in range(n):
                onum, pos = _read_int(data, pos)
                ooff, pos = _read_int(data, pos)
                pairs.append((onum, ooff))
            members = []
            for onum, ooff in pairs:
                try:
                    obj, _ = parse_object(data, first + ooff, self.resolve)
                except PdfError:
                    obj = None
                members.append((onum, obj))
            self._objstm_cache[stm_num] = members
        if idx < len(members) and members[idx][0] == idnum:
            return members[idx][1]
        for onum, obj in members:  # tolerant: index off, match by number
            if onum == idnum:
                return obj
        raise PdfError(f"object {idnum} not found in /ObjStm {stm_num}")

    # -- catalog / metadata ---------------------------------------------------

    @property
    def root(self) -> dict:
        r = self.resolve(self.xref.trailer.get("/Root"))
        if not isinstance(r, dict):
            raise PdfError("no /Root catalog")
        return r

    def doc_info(self) -> Optional[dict]:
        """DocInfo dictionary with values resolved
        (parity: getDocumentInfo, _reader.py:244-260)."""
        info = self.resolve(self.xref.trailer.get("/Info"))
        if not isinstance(info, dict):
            return None
        return {k: self.resolve(v) for k, v in info.items()}

    # -- page tree ------------------------------------------------------------

    def pages(self) -> List[dict]:
        """Flattened page list with inherited attributes pushed down
        (parity: _flatten, _reader.py:695-732 — iterative, not recursive)."""
        if self._pages is not None:
            return self._pages
        pages: List[dict] = []
        top = self.resolve(self.root.get("/Pages"))
        if not isinstance(top, dict):
            self._pages = []
            return self._pages
        # stack of (node_ref_or_dict, inherited) — DFS preserving /Kids order
        stack: List[Tuple[Any, dict]] = [(top, {})]
        seen: set = set()
        while stack:
            node, inherited = stack.pop()
            if isinstance(node, Ref):
                if node.idnum in seen:
                    continue  # cycle guard
                seen.add(node.idnum)
                node = self.resolve(node)
            if not isinstance(node, dict):
                continue
            ntype = node.get("/Type")
            if ntype == "/Page" or ("/Kids" not in node and ntype != "/Pages"):
                page = dict(inherited)
                page.update(node)
                pages.append(page)
            else:
                inh = dict(inherited)
                for attr in _INHERITABLE:
                    if attr in node:
                        inh[attr] = node[attr]
                kids = self.resolve(node.get("/Kids")) or []
                for kid in reversed(kids):
                    stack.append((kid, inh))
        self._pages = pages
        return pages

    def num_pages(self) -> int:
        return len(self.pages())

    def page_contents(self, page: dict) -> bytes:
        """Concatenated, decoded content bytes for one page
        (parity: ContentStream.__init__ concat, generic.py:1173-1187)."""
        contents = self.resolve(page.get("/Contents"))
        if contents is None:
            return b""
        if isinstance(contents, StreamObj):
            return contents.get_data(self.resolve)
        if isinstance(contents, list):
            parts = []
            for part in contents:
                part = self.resolve(part)
                if isinstance(part, StreamObj):
                    parts.append(part.get_data(self.resolve))
            return b"".join(parts)
        return b""


    # -- interactive-document projections (SURVEY §2.3 P2/P4/P5) -------------

    def form_fields(self) -> List[dict]:
        """AcroForm fields, recursively through /Kids; field key is /TM
        else /T (parity: getFields/_buildField, _reader.py:355-450)."""
        acro = self.resolve(self.root.get("/AcroForm"))
        if not isinstance(acro, dict):
            return []
        out: List[dict] = []
        stack = list(reversed(self.resolve(acro.get("/Fields")) or []))
        seen: set = set()
        while stack:
            node = stack.pop()
            if isinstance(node, Ref):
                if node.idnum in seen:
                    continue
                seen.add(node.idnum)
            field = self.resolve(node)
            if not isinstance(field, dict):
                continue
            kids = self.resolve(field.get("/Kids"))
            if kids:
                stack.extend(reversed(kids))
            name = field.get("/TM") or field.get("/T")
            if name is None:
                continue
            out.append(
                {
                    "name": _as_str(name),
                    "ft": _as_str(field.get("/FT")),
                    "value": _as_str(self.resolve(field.get("/V"))),
                    "default": _as_str(self.resolve(field.get("/DV"))),
                    "flags": int(self.resolve(field.get("/Ff")) or 0),
                }
            )
        return out

    def form_text_values(self) -> dict:
        """{name: value} for /FT == /Tx fields (parity:
        getFormTextFields, _reader.py:452-462)."""
        return {
            f["name"]: f["value"]
            for f in self.form_fields()
            if f["ft"] == "/Tx"
        }

    def named_destinations(self) -> List[dict]:
        """Flattened /Dests dict or /Names name tree (parity:
        getNamedDestinations, _reader.py:464-503)."""
        tree = self.resolve(self.root.get("/Dests"))
        if not isinstance(tree, dict):
            tree = self._names_entry("/Dests")
        if not isinstance(tree, dict):
            return []
        out: List[dict] = []
        page_no = self._page_number_map()
        for key, dest in self._name_tree(tree):
            dest = self.resolve(dest)
            if isinstance(dest, dict):
                dest = self.resolve(dest.get("/D"))
            if not isinstance(dest, list) or not dest:
                continue
            page_ref = dest[0]
            out.append(
                {
                    "name": _as_str(key),
                    "page_no": page_no.get(
                        page_ref.idnum if isinstance(page_ref, Ref) else -1
                    ),
                    "fit": _as_str(dest[1]) if len(dest) > 1 else None,
                }
            )
        return out

    def _names_entry(self, key: str):
        """The catalog /Names dictionary's `key` name tree, or None."""
        names = self.resolve(self.root.get("/Names"))
        return self.resolve(names.get(key)) if isinstance(names, dict) else None

    def _name_tree(self, tree):
        """(key, value) leaf pairs of a name tree in document order:
        each node's /Kids subtrees, depth-first, before the node's own
        /Names pairs (PDF 32000 §7.9.6). Keys are resolved, values are
        left as stored (callers may want a value's Ref id). A /Kids
        Ref seen twice is skipped (cyclic-tree guard)."""
        if not isinstance(tree, dict):
            return
        stack = [tree]
        seen: set = set()
        while stack:
            node = stack.pop()
            for kid in reversed(self.resolve(node.get("/Kids")) or []):
                if isinstance(kid, Ref):
                    if kid.idnum in seen:
                        continue
                    seen.add(kid.idnum)
                kid = self.resolve(kid)
                if isinstance(kid, dict):
                    stack.append(kid)
            pairs = self.resolve(node.get("/Names")) or []
            for i in range(0, len(pairs) - 1, 2):
                yield self.resolve(pairs[i]), pairs[i + 1]

    def outlines(self) -> List[dict]:
        """Flattened bookmark tree via /First-/Next chains with level
        (parity: getOutlines/_buildOutline, _reader.py:513-558; broken
        refs tolerated)."""
        root_ol = self.resolve(self.root.get("/Outlines"))
        if not isinstance(root_ol, dict):
            return []
        out: List[dict] = []
        page_no = self._page_number_map()
        seen: set = set()

        def walk(node_ref, level: int):
            node = node_ref
            while node is not None:
                if isinstance(node, Ref):
                    if node.idnum in seen:
                        return
                    seen.add(node.idnum)
                node = self.resolve(node)
                if not isinstance(node, dict):
                    return
                dest = self.resolve(node.get("/Dest"))
                if dest is None:
                    action = self.resolve(node.get("/A"))
                    if isinstance(action, dict):
                        dest = self.resolve(action.get("/D"))
                pno = None
                if isinstance(dest, list) and dest and isinstance(dest[0], Ref):
                    pno = page_no.get(dest[0].idnum)
                title = node.get("/Title")
                if title is not None:
                    out.append(
                        {
                            "title": _as_str(title),
                            "level": level,
                            "page_no": pno,
                        }
                    )
                first = node.get("/First")
                if first is not None:
                    walk(first, level + 1)
                node = node.get("/Next")

        walk(root_ol.get("/First"), 0)
        return out

    def page_layout(self) -> Optional[str]:
        """Catalog /PageLayout (parity: getPageLayout, _reader.py:654-673)."""
        return _as_str(self.resolve(self.root.get("/PageLayout")))

    def page_mode(self) -> Optional[str]:
        """Catalog /PageMode (parity: getPageMode, _reader.py:675-693)."""
        return _as_str(self.resolve(self.root.get("/PageMode")))

    def page_meta(self, page: dict, page_no: int) -> dict:
        """Per-page scalar projection: rotation (inherited via flatten,
        _reader.py:696-701) and media box."""
        rotate = self.resolve(page.get("/Rotate"))
        box = self.resolve(page.get("/MediaBox"))
        return {
            "page_no": page_no,
            "rotate": int(rotate) if isinstance(rotate, (int, float)) else 0,
            "mediabox": [float(self.resolve(v)) for v in box]
            if isinstance(box, list)
            else None,
        }

    def attachments(self) -> List[dict]:
        """Embedded files from the catalog /Names /EmbeddedFiles name
        tree — the READ side of the reference's addAttachment
        (_writer.py:280-358; PDF 32000 §7.11.3/7.11.4). /UF preferred
        over /F for the display name; undecodable payloads yield None
        data (quarantine discipline)."""
        out: List[dict] = []
        for key, spec in self._name_tree(self._names_entry("/EmbeddedFiles")):
            spec = self.resolve(spec)
            if not isinstance(spec, dict):
                continue
            data = None
            ef = self.resolve(spec.get("/EF"))
            if isinstance(ef, dict):
                f = self.resolve(ef.get("/F")) or self.resolve(ef.get("/UF"))
                if isinstance(f, StreamObj):
                    try:
                        data = f.get_data(self.resolve)
                    except Exception:
                        data = None
            fname = (
                _as_str(self.resolve(spec.get("/UF")))
                or _as_str(self.resolve(spec.get("/F")))
                or _as_str(key)
            )
            out.append({"filename": fname, "data": data})
        return out

    def media_objects(self) -> List[dict]:
        """Embedded image XObject payloads per page: the bridge from
        pdf_raw into the media(doc_id, media_ref, payload) table. The
        payload is the stream after the filter chain EXCEPT the final
        image codec: DCTDecode/JPXDecode stay as the container bytes
        (JPEG/JP2 files — the reference's own passthrough behavior,
        filters.py:321-330), CCITTFaxDecode arrives TIFF-wrapped
        (kernels/filters.ccitt_fax_wrap), anything else is the raw
        sample buffer. Undecodable streams yield data=None
        (quarantine discipline)."""
        out: List[dict] = []
        for page_no, page in enumerate(self.pages()):
            res = self.resolve(page.get("/Resources"))
            if not isinstance(res, dict):
                continue
            xo = self.resolve(res.get("/XObject"))
            if not isinstance(xo, dict):
                continue
            for name in sorted(xo.keys()):
                obj = self.resolve(xo[name])
                if not isinstance(obj, StreamObj):
                    continue
                sd = obj.sdict
                if self.resolve(sd.get("/Subtype")) != "/Image":
                    continue
                data = None
                try:
                    data = obj.get_data(self.resolve)
                except Exception:
                    data = None
                out.append(
                    {
                        "page_no": page_no,
                        "name": str(name)[1:] if str(name).startswith("/") else str(name),
                        "width": self.resolve(sd.get("/Width")),
                        "height": self.resolve(sd.get("/Height")),
                        "data": data,
                    }
                )
        # inline images (BI/ID/EI) carry their payload right in the
        # content stream — same bridge, names '__inline__{k}' per page
        from .content import INLINE_IMAGE_OP, tokenize

        for page_no, page in enumerate(self.pages()):
            try:
                ops = tokenize(self.page_contents(page))
            except Exception:
                continue
            k = 0
            for operands, op in ops:
                if op != INLINE_IMAGE_OP or not operands:
                    continue
                img = operands[0]
                st = img.get("settings") or {}

                def _dim(*keys):
                    for key in keys:
                        v = st.get(key)
                        if isinstance(v, int):
                            return v
                    return None

                out.append(
                    {
                        "page_no": page_no,
                        "name": f"__inline__{k}",
                        "width": _dim("/W", "/Width"),
                        "height": _dim("/H", "/Height"),
                        "data": img.get("data"),
                    }
                )
                k += 1
        return out

    def javascript(self) -> List[dict]:
        """Document-level JavaScript: /Names//JavaScript name-tree
        entries and the /OpenAction action — the READ side of the
        reference's addJS (_writer.py:237-279)."""
        out: List[dict] = []
        seen_ids: set = set()

        def emit(name, action):
            action = self.resolve(action)
            if not isinstance(action, dict) or action.get("/S") != "/JavaScript":
                return
            js = self.resolve(action.get("/JS"))
            if isinstance(js, StreamObj):  # long scripts may be streams
                try:
                    js = js.get_data(self.resolve).decode("latin-1")
                except Exception:
                    js = None
            out.append({"name": _as_str(name), "js": _as_str(js)})

        for key, ref in self._name_tree(self._names_entry("/JavaScript")):
            if isinstance(ref, Ref):
                seen_ids.add(ref.idnum)
            emit(key, ref)
        oa = self.root.get("/OpenAction")
        # skip /OpenAction when it aliases a name-tree entry (addJS
        # registers the same action object in both places)
        if not (isinstance(oa, Ref) and oa.idnum in seen_ids):
            emit(None, oa)
        return out

    def link_annotations(self) -> List[dict]:
        """Link annotations per page: URI actions and internal /Dest
        (the projection behind removeLinks, _writer.py:871-877)."""
        out: List[dict] = []
        page_no_map = self._page_number_map()
        for page_no, page in enumerate(self.pages()):
            annots = self.resolve(page.get("/Annots")) or []
            for a in annots:
                a = self.resolve(a)
                if not isinstance(a, dict) or a.get("/Subtype") != "/Link":
                    continue
                uri = None
                dest_page = None
                action = self.resolve(a.get("/A"))
                if isinstance(action, dict):
                    uri = _as_str(self.resolve(action.get("/URI")))
                    d = self.resolve(action.get("/D"))
                else:
                    d = self.resolve(a.get("/Dest"))
                if isinstance(d, list) and d and isinstance(d[0], Ref):
                    dest_page = page_no_map.get(d[0].idnum)
                out.append(
                    {"page_no": page_no, "uri": uri, "dest_page": dest_page}
                )
        return out

    def _page_number_map(self) -> Dict[int, int]:
        """page object idnum -> page index, built once per doc (parity:
        _pageId2Num build/probe, _reader.py:560-603)."""
        m: Dict[int, int] = {}
        top = self.resolve(self.root.get("/Pages"))
        if not isinstance(top, dict):
            return m
        idx = 0
        stack = [self.root.get("/Pages")]
        seen: set = set()  # cyclic /Kids guard (mirrors pages())
        while stack:
            node_ref = stack.pop()
            if isinstance(node_ref, Ref):
                if node_ref.idnum in seen:
                    continue
                seen.add(node_ref.idnum)
            node = self.resolve(node_ref)
            if not isinstance(node, dict):
                continue
            if node.get("/Type") == "/Page" or (
                "/Kids" not in node and node.get("/Type") != "/Pages"
            ):
                if isinstance(node_ref, Ref):
                    m[node_ref.idnum] = idx
                idx += 1
            else:
                for kid in reversed(self.resolve(node.get("/Kids")) or []):
                    stack.append(kid)
        return m


def decode_permissions(p: int) -> dict:
    """Permission bit unpack (parity: _reader.py:1311-1324; PDF 32000
    Table 22 bit positions)."""
    return {
        "print": bool(p & (1 << 2)),
        "modify": bool(p & (1 << 3)),
        "copy": bool(p & (1 << 4)),
        "annotations": bool(p & (1 << 5)),
        "forms": bool(p & (1 << 8)),
        "accessability": bool(p & (1 << 9)),
        "assemble": bool(p & (1 << 10)),
        "print_high_quality": bool(p & (1 << 11)),
    }


def _as_str(v) -> Optional[str]:
    if v is None:
        return None
    if isinstance(v, bytes):
        return v.decode("latin-1", "replace")
    return str(v)


def _read_int(data: bytes, pos: int) -> Tuple[int, int]:
    m = re.compile(rb"[\x00\t\n\x0c\r ]*(\d+)").match(data, pos)
    if not m:
        raise PdfError("bad /ObjStm header pairs")
    return int(m.group(1)), m.end()
