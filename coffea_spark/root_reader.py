"""Native ROOT TTree ingestion — pure-Python, no uproot/ROOT required.

Reads flat "leaflist" ntuples (every NanoAOD / PFNano / scouting file, and
any ``TTree::Branch("x[n]/F")``-style tree) directly from the ROOT binary
format using only the stdlib + numpy + pyarrow:

- file header + sequential TKey walk (gap records with negative fNbytes
  skipped) discovers every basket and tree in the file;
- per-branch TBasket payloads are decompressed lazily — ZLIB and LZMA via
  the stdlib, ZSTD and LZ4 via the system libraries through ctypes
  (gated: a clear error if neither is present);
- leaf element types come from a targeted deserialization of the TLeaf
  records inside the TTree metadata buffer: each leaf's class
  (TLeafF/I/L/S/B/O/D) is resolved through ROOT's class-tag mechanism
  (first-use ``0xFFFFFFFF + classname`` tags and back-references
  ``0x80000000 | displacement``), and jaggedness comes from the leaf title
  (``Muon_pt[nMuon]``).

Member-wise split branches (TLeafElement: podio/EDM4HEP/FCC collections,
ATLAS xAOD AuxDyn stores, TreeMaker split ROOT vectors) are also read:
jaggedness comes from each basket's entry-offset table, element types from
the leaf's fType or — for object-wise ``std::vector<T>`` branches — from
the branch's streamed fClassName, stripping the 10-byte per-entry vector
header.  Object-class branches are typed through the file's own
TStreamerInfo dictionary (:func:`parse_streamer_infos`): members whose
C++ type exists nowhere else in the tree buffer (xAOD Aux stores),
fixed-dim struct members (``covMatrix.values[6]``), and
``ElementLink`` vectors — both object-wise (bytecount-framed elements)
and member-wise (0x4000 version flag) streamings — decode to
``struct<persKey, persIndex>`` columns.  RNTuple files dispatch to
:mod:`coffea_spark.rntuple` through :func:`open_tree`/:func:`read_root`.
This replaces the reference's uproot mapping (nanoevents/factory.py:
267-480 from_root, mapping/uproot.py:115-226) for every fixture tree the
reference tests ship; the residual unreadables are dataless container
headers, ``vector<string>``, and triply-nested vectors.

Scale design: :func:`read_root` is ``spark.read.format("root")``, whose
partitions are (file, entry-range) chunks — the embarrassingly-parallel
unit the reference also uses (file×tree chunks).
Column pruning is pushed INTO the format: only the baskets of requested
branches are ever decompressed (each branch's baskets are separate keyed
byte ranges), so a 5-column read of a 2000-branch NanoAOD file touches
<1% of the decompression work.  Rows stream out in bounded Arrow batches.
"""

from __future__ import annotations

import os
import re
import struct
import zlib
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np

# leaf class -> (numpy dtype char when signed, when unsigned)
_LEAF_DTYPES = {
    "TLeafF": ("f4", "f4"),
    "TLeafD": ("f8", "f8"),
    "TLeafI": ("i4", "u4"),
    "TLeafL": ("i8", "u8"),
    "TLeafS": ("i2", "u2"),
    "TLeafB": ("i1", "u1"),
    "TLeafO": ("u1", "u1"),  # bool
}
_LEAF_RE = re.compile(rb"\xff\xff\xff\xff(TLeaf[FDILSBOC]|TLeafElement)\x00")
# TLeafElement fType (TStreamerInfo element type codes) -> numpy dtype
_STREAMER_DTYPES = {
    1: "i1", 11: "u1", 2: "i2", 12: "u2", 3: "i4", 13: "u4",
    4: "i8", 14: "u8",          # kLong / kULong (stored 64-bit)
    6: "i4",                    # kCounter
    # kDouble32 (9) maps to the no-range-spec form (stored float32). A
    # [min,max,nbits] packing spec stores packed uint32 at the SAME
    # itemsize, so it would decode silently wrong — _parse_leaves
    # consults the streamer member title and SKIPS branches whose
    # Double32 comment carries a packing spec
    5: "f4", 8: "f8", 9: "f4",
    16: "i8", 17: "u8", 18: "u1",  # 18 = bool
}
# std::vector<T> element C++ type -> numpy dtype (object-wise STL branches)
_VECTOR_DTYPES = {
    "float": "f4", "double": "f8", "int": "i4", "unsigned int": "u4",
    "short": "i2", "unsigned short": "u2", "char": "i1",
    "unsigned char": "u1", "signed char": "i1", "bool": "u1",
    "long": "i8", "unsigned long": "u8", "long long": "i8",
    "unsigned long long": "u8", "Long64_t": "i8", "ULong64_t": "u8",
    "Int_t": "i4", "UInt_t": "u4", "Float_t": "f4", "Double_t": "f8",
}
_VECTOR_RE = re.compile(rb"vector<([a-zA-Z_ 0-9]{3,24})>")

# plain leaflist scalar titles ("eventNumber/l") and their dtypes; the
# packed codes f (Float16) and d (Double32) are deliberately absent
_LEAFLIST_TITLE_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)/([A-Za-z])")
_LEAFLIST_CODES = {
    "B": ("i1", False), "b": ("u1", False), "S": ("i2", False),
    "s": ("u2", False), "I": ("i4", False), "i": ("u4", False),
    "F": ("f4", False), "D": ("f8", False), "L": ("i8", False),
    "l": ("u8", False), "G": ("i8", False), "g": ("u8", False),
    "O": ("u1", True),
}


@dataclass
class BranchInfo:
    name: str
    dtype: str          # numpy dtype string, e.g. "f4"
    counts: str | None  # counts branch name for jagged, None for flat
    fixed_len: int      # >1 for fixed-size array leaves
    is_bool: bool
    # jaggedness carried by the basket entry-offset tables instead of a
    # counts branch (TBranchElement member-wise splitting: podio/EDM4HEP,
    # ATLAS xAOD, any std::vector<T> member branch)
    from_offsets: bool = False
    # per-entry streamer header to strip (10 for object-wise std::vector<T>
    # branches: 4-byte bytecount + 2-byte version + 4-byte size)
    header_bytes: int = 0
    # list nesting depth: 2 for vector<vector<T>> branches (entry = 10-byte
    # outer header, then per inner vector an i4 count + elements)
    depth: int = 1
    # ElementLink branch (vector<ElementLink<...>> / nested): elements are
    # bytecount-framed objects whose LAST 8 bytes are (persKey u4,
    # persIndex u4); decoded to struct columns
    link: bool = False
    # string payloads: 1 = one TString per entry (TLeafC / std::string
    # member), 2 = vector<string> (10-byte STL header + TStrings), 3 =
    # member-wise split STL string payload (map<string,string> .first /
    # .second sub-branches: entry = bytecount|kByteCountMask u4 +
    # version u2, then TStrings to the entry end; element count lives in
    # the split parent, recovered here from exact framing)
    string: int = 0


class RootFileError(ValueError):
    pass


# -- optional system codecs (ctypes, no Python packages needed) -------------

def _load_zstd():
    import ctypes
    import ctypes.util

    path = ctypes.util.find_library("zstd")
    if path is None:
        return None
    lib = ctypes.CDLL(path)
    lib.ZSTD_decompress.restype = ctypes.c_size_t
    lib.ZSTD_decompress.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p, ctypes.c_size_t
    ]
    lib.ZSTD_isError.restype = ctypes.c_uint
    lib.ZSTD_isError.argtypes = [ctypes.c_size_t]

    def decompress(blob: bytes, ulen: int) -> bytes:
        import ctypes as ct

        out = ct.create_string_buffer(ulen)
        n = lib.ZSTD_decompress(out, ulen, blob, len(blob))
        if lib.ZSTD_isError(n):
            raise RootFileError("zstd decompression failed")
        return out.raw[:n]

    return decompress


def _load_lz4():
    import ctypes
    import ctypes.util

    path = ctypes.util.find_library("lz4")
    if path is None:
        return None
    lib = ctypes.CDLL(path)
    lib.LZ4_decompress_safe.restype = ctypes.c_int
    lib.LZ4_decompress_safe.argtypes = [
        ctypes.c_char_p, ctypes.c_char_p, ctypes.c_int, ctypes.c_int
    ]

    def decompress(blob: bytes, ulen: int) -> bytes:
        import ctypes as ct

        # ROOT prefixes LZ4 payloads with an 8-byte xxhash64 checksum
        out = ct.create_string_buffer(ulen)
        n = lib.LZ4_decompress_safe(blob[8:], out, len(blob) - 8, ulen)
        if n < 0:
            raise RootFileError("lz4 decompression failed")
        return out.raw[:n]

    return decompress


_ZSTD = _load_zstd()
_LZ4 = _load_lz4()


def _map_file(path: str):
    """mmap the file read-only so a column-pruned read only PAGES IN the
    byte ranges it touches (key headers + selected baskets) — a few MB of
    I/O against multi-GB files; falls back to a full read where mmap is
    unavailable."""
    import mmap

    with open(path, "rb") as fh:
        try:
            # POSIX: the mapping stays valid after the fd is closed
            return mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
        except (ValueError, OSError):  # empty file / no mmap support
            return fh.read()


def _read_string(buf: bytes, p: int) -> tuple[str, int]:
    n = buf[p]
    if n == 255:
        n = struct.unpack_from(">I", buf, p + 1)[0]
        p += 4
    return buf[p + 1 : p + 1 + n].decode("latin1"), p + 1 + n


class _Key:
    __slots__ = ("nbytes", "objlen", "keylen", "cycle", "cls", "name", "title",
                 "off", "hdrend", "seekkey")

    def __init__(self, data: bytes, off: int):
        self.nbytes, version = struct.unpack_from(">iH", data, off)
        if self.nbytes <= 0:
            return  # gap record; caller skips
        self.objlen, _datime, self.keylen, self.cycle = struct.unpack_from(
            ">iIhh", data, off + 6
        )
        if version > 1000:
            self.seekkey = struct.unpack_from(">q", data, off + 18)[0]
            p = off + 18 + 16
        else:
            self.seekkey = struct.unpack_from(">i", data, off + 18)[0]
            p = off + 18 + 8
        self.cls, p = _read_string(data, p)
        self.name, p = _read_string(data, p)
        self.title, p = _read_string(data, p)
        self.off = off
        self.hdrend = p

    def plausible(self) -> bool:
        """A genuine on-disk record: self-referencing fSeekKey (0 for
        the header key), sane lengths, printable class name. Used to
        detect scan desync at silent sub-key-size gaps — ROOT cannot
        write a freed-slot marker smaller than a key header, so a
        record whose allocation exceeds its fNbytes leaves bytes the
        linear walk must resync across."""
        return (
            self.keylen >= 22
            and self.nbytes >= self.keylen
            and self.seekkey in (self.off, 0)
            and 0 < len(self.cls) <= 64
            and all(32 < ord(c) < 127 for c in self.cls)
        )


class _EmbeddedKey:
    """A basket stored INSIDE the TTree record (ROOT's fBaskets
    TObjArray: when a tree is written in one flush — small files,
    uproot ``mktree`` output, the final write-basket of any tree — the
    basket is streamed into the tree's own buffer instead of landing as
    a loose ``TBasket`` file key). Quacks like :class:`_Key` where the
    basket machinery needs it (name/keylen/nev/last) and carries its
    payload directly, already re-framed to the FILE-basket layout
    (data then entry-offset table) so ``_basket_data`` decodes both
    storage forms through one code path. Reference analogue: uproot's
    "embedded baskets" path behind coffea's NanoEventsFactory
    (factory.py:267-480 reads through uproot's TBasket model zoo)."""

    __slots__ = ("name", "title", "cls", "keylen", "cycle", "off", "nev",
                 "last", "payload")

    def __init__(self, name, title, keylen, off, nev, last, payload):
        self.name = name
        self.title = title
        self.cls = "TBasket"
        self.keylen = keylen
        self.cycle = 1
        self.off = off  # position in the tree buffer: unique cache id
        self.nev = nev
        self.last = last
        self.payload = payload


def parse_streamer_infos(payload: bytes, keylen: int) -> dict[str, list[dict]]:
    """Parse a file's ``StreamerInfo`` record (a streamed TList of
    TStreamerInfo) into ``{class name: [member dicts]}``, each member
    ``{"name", "type", "typename", "arraylen"}``.

    This is the dictionary ROOT itself uses to type object-class
    branches (reference reads it through uproot's full model zoo,
    nanoevents/mapping/uproot.py:115-226); here only the member tables
    are extracted — enough to type TBranchElement members whose
    fClassName carries the PARENT class (e.g. xAOD Aux stores), where
    the member's C++ type exists nowhere else in the file.

    The walk is bytecount-driven: every streamed object carries a
    4-byte length, so unknown element subclasses are skipped exactly,
    and class-tag back-references (0x80000000) resolve through the same
    displacement arithmetic the leaf parser uses."""
    pos = 0
    classes: dict[int, str] = {}  # displacement -> class name

    def rd(fmt):
        nonlocal pos
        v = struct.unpack_from(fmt, payload, pos)
        pos += struct.calcsize(fmt)
        return v if len(v) > 1 else v[0]

    def rstring():
        nonlocal pos
        s, pos2 = _read_string(payload, pos)
        pos = pos2
        return s

    def obj_header():
        """bytecount+version; returns (end, version)."""
        nonlocal pos
        bc = rd(">I") & 0x3FFFFFFF
        end = pos + bc
        ver = rd(">H")
        return end, ver

    def skip_tnamed():
        nonlocal pos
        end, _ = obj_header()
        pos = end

    def read_tnamed():
        nonlocal pos
        end, _ = obj_header()
        rd(">HII")  # TObject
        name = rstring()
        title = rstring()
        pos = end
        return name, title

    def read_class_tag():
        """Returns class name or None (null pointer); advances pos."""
        nonlocal pos
        tag = rd(">I")
        if tag == 0:
            return None
        if tag == 0xFFFFFFFF:
            start = pos
            cname = b""
            while payload[pos] != 0:
                pos += 1
            cname = payload[start:pos].decode("latin1")
            pos += 1
            classes[start + keylen - 2] = cname
            return cname
        if tag & 0x80000000:
            return classes.get((tag & 0x7FFFFFFF))
        return None  # object back-reference: caller must skip by bytecount

    def read_object():
        """One object pointer: (classname, end) with pos at payload;
        returns (None, None) for null."""
        nonlocal pos
        peek = struct.unpack_from(">I", payload, pos)[0]
        if peek == 0:
            pos += 4
            return None, None
        bc = peek & 0x3FFFFFFF
        has_bc = bool(peek & 0x40000000)
        if not has_bc:
            # bare back-reference to an already-streamed object
            pos += 4
            return None, None
        pos += 4
        end = pos + bc
        cname = read_class_tag()
        return cname, end

    out: dict[str, list[dict]] = {}

    def parse_element(cname, end):
        nonlocal pos
        _e_end, _ver = obj_header()  # TStreamerXxx
        _b_end, _bver = obj_header()  # TStreamerElement base
        name, title = read_tnamed()
        ftype = rd(">i")
        _size = rd(">i")
        arraylen = rd(">i")
        _arraydim = rd(">i")
        rd(">5i")  # fMaxIndex
        typename = rstring()
        pos = end
        return {
            "name": name, "type": int(ftype), "title": title,
            "typename": typename, "arraylen": int(arraylen),
        }

    def parse_streamer_info(end):
        nonlocal pos
        _o_end, _ver = obj_header()
        clsname, _ = read_tnamed()
        rd(">I")  # checksum
        rd(">i")  # class version
        acls, aend = read_object()
        members = []
        if acls == "TObjArray":
            _a_end, _aver = obj_header()
            rd(">HII")  # TObject
            rstring()  # array name
            n = rd(">i")
            rd(">i")  # lower bound
            for _ in range(n):
                ecls, eend = read_object()
                if ecls is None:
                    if eend is not None:
                        pos = eend  # tag-unresolved object: skip exactly
                    continue
                try:
                    members.append(parse_element(ecls, eend))
                except Exception:
                    pos = eend  # malformed element: skip exactly
            pos = aend
        elif aend is not None:
            pos = aend
        out[clsname] = members
        pos = end

    # TList header
    _l_end, _lver = obj_header()
    rd(">HII")  # TObject
    rstring()  # list name
    n = rd(">i")
    for _ in range(n):
        cname, end = read_object()
        if cname == "TStreamerInfo":
            try:
                parse_streamer_info(end)
            except Exception:
                pos = end
        elif end is not None:
            pos = end  # unknown / tag-unresolved object: skip exactly
        # null pointers and bare back-references consumed only their
        # 4-byte tag — nothing further to skip
        # trailing per-entry option string (TList stores one per object)
        rstring()
    return out



def _pa_values(vals):
    """numpy values -> pyarrow, widening link structs to int64 fields.
    Object arrays are always strings here (the only object-typed payload
    the reader produces) — typed explicitly so empty columns don't infer
    null."""
    import pyarrow as pa

    if vals.dtype.names is not None:
        return pa.StructArray.from_arrays(
            [
                pa.array(vals["persKey"].astype("int64")),
                pa.array(vals["persIndex"].astype("int64")),
            ],
            ["persKey", "persIndex"],
        )
    if vals.dtype == object:
        return pa.array(vals, type=pa.string())
    return pa.array(vals)


class RootTreeReader:
    """Read one TTree of one ROOT file. See module docstring for scope.

    The entry range is the only read unit: :meth:`to_arrow` without a
    range reads ``[0, entries)``, and :meth:`array`, :meth:`counts` and
    :meth:`inner_counts` are views of the same column read over the
    whole tree, decoded on each call."""

    def __init__(self, path: str, tree: str | None = None):
        self.path = path
        self._data = _map_file(path)
        data = self._data
        if data[:4] != b"root":
            raise RootFileError(f"{path}: not a ROOT file")
        version, fbegin = struct.unpack_from(">ii", data, 4)
        if version > 1000000:
            fend = struct.unpack_from(">q", data, 12)[0]
        else:
            fend = struct.unpack_from(">i", data, 12)[0]
        if fend > len(data):
            # fEND is the logical EOF TFile records at close; a shorter
            # physical file is a truncated copy (uproot raises the same
            # way) — fail loud instead of reading whatever keys survive
            raise RootFileError(
                f"{path}: truncated — header fEND={fend} but file has "
                f"{len(data)} bytes"
            )
        self._keys: list[_Key] = []
        off = fbegin
        while off < fend:
            k = None
            try:
                k = _Key(data, off)
            except Exception:
                pass
            if k is not None and k.nbytes < 0:  # freed slot: skip the gap
                off += -k.nbytes
                continue
            if k is None or k.nbytes == 0 or not k.plausible():
                # desync: a record's disk allocation exceeded its
                # fNbytes (ROOT leaves sub-key-size gaps unmarked —
                # no room for a freed-slot header). Resync on the next
                # self-referencing key header.
                off = self._resync(data, off + 1, fend)
                if off is None:
                    break
                continue
            self._keys.append(k)
            off += k.nbytes

        trees = {}
        for k in self._keys:
            if k.cls == "TTree" and (
                k.name not in trees or k.cycle > trees[k.name].cycle
            ):
                trees[k.name] = k
        # authoritative top-level listing: the directory's fSeekKeys
        # key list names every object key (uproot follows the same
        # chain); merge any tree the linear walk missed
        for k in self._directory_keys(data):
            if k.cls == "TTree" and (
                k.name not in trees or k.cycle > trees[k.name].cycle
            ):
                trees[k.name] = k
        if not trees:
            kinds = sorted({k.cls for k in self._keys})
            hint = " (RNTuple file — open it with open_tree)" if any(
                "RNTuple" in c for c in kinds
            ) else ""
            raise RootFileError(f"{path}: no TTree keys found{hint}; classes={kinds}")
        if tree is None:
            # default: the tree with the most baskets (the events tree)
            counts = {name: 0 for name in trees}
            for k in self._keys:
                if k.cls == "TBasket" and k.title in counts:
                    counts[k.title] += 1
            tree = max(counts, key=counts.get)
        if tree not in trees:
            raise RootFileError(f"{path}: no tree {tree!r}; have {sorted(trees)}")
        self.tree = tree
        self._tree_key = trees[tree]
        self._baskets: dict[str, list[_Key]] = {}
        for k in self._keys:
            if k.cls == "TBasket" and k.title == tree:
                self._baskets.setdefault(k.name, []).append(k)
        # payloads of the baskets holding the first entry after the last
        # to_arrow range: an adjacent next range starts in them
        self._edge: dict[int, bytes] = {}
        self._edge_offs: set[int] = set()
        self._tree_buf = self._payload(self._tree_key)
        self._parse_embedded_baskets()
        self.branches = self._parse_leaves()
        self._entries: int | None = None
        self._basket_starts: dict[str, np.ndarray] = {}

    # -- low-level ----------------------------------------------------------

    @staticmethod
    def _resync(data, start: int, fend: int):
        """Next genuine record at/after ``start``, located by the TKey
        fSeekKey self-reference (vectorized window scan). Returns None
        when no plausible record remains. Gaps ROOT leaves unmarked are
        sub-key-size, so the 1 MiB window is generous."""
        limit = min(fend, start + (1 << 20))
        win = bytes(data[start: min(limit + 26, len(data))])
        if len(win) < 30:
            return None
        a = np.frombuffer(win, dtype=np.uint8).astype(np.uint64)
        n = len(win) - 26

        def u32(at: int):
            return (
                (a[at: at + n] << np.uint64(24))
                | (a[at + 1: at + 1 + n] << np.uint64(16))
                | (a[at + 2: at + 2 + n] << np.uint64(8))
                | a[at + 3: at + 3 + n]
            )

        offs = np.arange(start, start + n, dtype=np.uint64)
        # small-key (4-byte) fSeekKey at +18, or big-key (8-byte) whose
        # high word is 0 for any file this mmap can hold
        cand = np.nonzero(
            (u32(18) == offs) | ((u32(18) == 0) & (u32(22) == offs))
        )[0]
        for c in cand:
            off = start + int(c)
            try:
                k = _Key(data, off)
            except Exception:
                continue
            if k.nbytes > 0 and k.plausible():
                return off
        return None

    @staticmethod
    def _directory_keys(data) -> list[_Key]:
        """Top-directory key list: TFile header fNbytesName -> the
        TDirectory streamer's fSeekKeys -> a record whose payload is
        nkeys serialized TKey headers — the authoritative top-level
        object listing (what uproot reads; TDirectoryFile::ReadKeys).
        Returns the true on-disk record keys the entries point at."""
        out: list[_Key] = []
        try:
            version, fbegin = struct.unpack_from(">ii", data, 4)
            big = version > 1000000
            p = 12
            p += 8 if big else 4  # fEND
            p += 8 if big else 4  # fSeekFree
            p += 4 + 4  # fNbytesFree, nfree
            nbytesname = struct.unpack_from(">i", data, p)[0]
            d = fbegin + nbytesname
            dver = struct.unpack_from(">h", data, d)[0]
            q = d + 2 + 4 + 4 + 4 + 4  # fVersion fDatimeC fDatimeM fNbytesKeys fNbytesName
            fmt, sz = (">q", 8) if dver > 1000 else (">i", 4)
            seekkeys = struct.unpack_from(fmt, data, q + 2 * sz)[0]
            if seekkeys <= 0 or seekkeys >= len(data):
                return out
            hk = _Key(data, seekkeys)
            if hk.nbytes <= 0:
                return out
            pos = seekkeys + hk.keylen
            nkeys = struct.unpack_from(">i", data, pos)[0]
            pos += 4
            for _ in range(max(0, min(nkeys, 1 << 20))):
                k = _Key(data, pos)
                if k.nbytes <= 0:
                    break
                if 0 < k.seekkey < len(data):
                    try:
                        rk = _Key(data, k.seekkey)
                        if rk.nbytes > 0 and rk.plausible() and rk.name == k.name:
                            out.append(rk)
                    except Exception:
                        pass
                pos = k.hdrend
        except Exception:
            return out
        return out

    def _parse_embedded_baskets(self) -> None:
        """Find baskets streamed INSIDE the tree record (fBaskets
        TObjArray — the storage form of one-flush files and every
        tree's final write-basket) and register them in ``_baskets``
        re-framed as :class:`_EmbeddedKey` file-layout payloads.

        Each streamed TBasket is TKey::Streamer first (fNbytes,
        version, fObjlen, fDatime, fKeylen, fCycle, seeks, then
        class/name/title strings), then the TBasket members fVersion(h)
        fBufferSize(i) fNevBufSize(i) fNevBuf(i) fLast(i) flag(B).
        flag semantics (TBasket::Streamer): %10 != 2 and fNevBuf > 0 →
        a streamed fEntryOffset array ([n][n x i4], values absolute
        from buffer start incl. keylen, displacement bits possible for
        20<flag<40, a displacement array follows for flag>40); flag==1
        or flag>10 → the raw basket buffer, fLast bytes whose first
        fKeylen are a copy of the key (skipped when re-framing — and
        the scan jumps past consumed extents so that inner key copy is
        never mistaken for another basket record). flag==0/2 with no
        buffer is the header-only in-memory write basket: no data."""
        buf = self._tree_buf
        tag = re.compile(b"\x07TBasket")
        pos = 0
        while True:
            m = tag.search(buf, pos)
            if m is None:
                break
            q = m.start()
            pos = q + 1
            parsed = self._parse_one_embedded(buf, q)
            if parsed is None:
                continue
            key, end = parsed
            pos = end
            if key is not None:
                self._baskets.setdefault(key.name, []).append(key)

    def _parse_one_embedded(self, buf: bytes, q: int):
        """Parse one candidate embedded-basket record whose classname
        TString starts at ``q``; returns (key-or-None, end) or None if
        the bytes aren't a well-formed basket record."""
        # TKey header before the classname: version>1000 → 8-byte seeks
        # (classname at start+34), else 4-byte (start+26)
        keylen = None
        if q >= 34:
            ver = struct.unpack_from(">H", buf, q - 30)[0]
            if 1000 < ver < 1100:
                keylen = struct.unpack_from(">h", buf, q - 20)[0]
        if keylen is None and q >= 26:
            ver = struct.unpack_from(">H", buf, q - 22)[0]
            if 0 < ver <= 1000:
                keylen = struct.unpack_from(">h", buf, q - 12)[0]
        if keylen is None or keylen <= 0:
            return None
        try:
            cls, p = _read_string(buf, q)
            name, p = _read_string(buf, p)
            title, p = _read_string(buf, p)
        except Exception:
            return None
        if cls != "TBasket" or title != self.tree or not name:
            return None
        if p + 19 > len(buf):
            return None
        bver, _bufsize, _nevbufsize, nevbuf, last = struct.unpack_from(
            ">hiiii", buf, p
        )
        flag = buf[p + 18]
        body = p + 19
        if not (0 < bver < 100) or nevbuf < 0 or flag > 90:
            return None
        if (flag == 1 or flag > 10) and last < keylen:
            return None
        offsets_blob = b""
        if flag % 10 != 2 and nevbuf:
            n = struct.unpack_from(">i", buf, body)[0]
            if n < nevbuf or body + 4 + 4 * n > len(buf):
                return None
            offs = np.frombuffer(buf, dtype=">i4", count=nevbuf, offset=body + 4)
            if 20 < flag < 40:  # displacement bits folded into offsets
                offs = (offs.astype(np.int64) & 0x00FFFFFF).astype(">i4")
            offsets_blob = struct.pack(">i", nevbuf) + offs.tobytes()
            body += 4 + 4 * n
            if flag > 40:
                n2 = struct.unpack_from(">i", buf, body)[0]
                if n2 < 0 or body + 4 + 4 * n2 > len(buf):
                    return None
                body += 4 + 4 * n2  # displacement array: unused
        data = b""
        if flag == 1 or flag > 10:
            if body + last > len(buf):
                return None
            data = buf[body + keylen : body + last]
            body += last
        if nevbuf == 0 or (not data and not offsets_blob):
            return (None, body)  # header-only write basket: no entries
        key = _EmbeddedKey(
            name, title, keylen, q, nevbuf, last, data + offsets_blob
        )
        return (key, body)

    def _payload(self, key: _Key) -> bytes:
        if isinstance(key, _EmbeddedKey):
            return key.payload
        out = self._edge.get(key.off)
        if out is None:
            out = self._payload_raw(key)
            if key.off in self._edge_offs:
                self._edge[key.off] = out
        return out

    def _payload_raw(self, key: _Key) -> bytes:
        data = self._data
        start, end = key.off + key.keylen, key.off + key.nbytes
        if key.objlen == key.nbytes - key.keylen:
            return data[start:end]
        out = []
        total = 0
        p = start
        while p < end and total < key.objlen:
            algo = data[p : p + 2]
            csize = data[p + 3] + (data[p + 4] << 8) + (data[p + 5] << 16)
            blob = data[p + 9 : p + 9 + csize]
            usize = data[p + 6] + (data[p + 7] << 8) + (data[p + 8] << 16)
            if algo == b"ZL":
                chunk = zlib.decompress(blob)
            elif algo == b"XZ":
                import lzma

                chunk = lzma.decompress(blob)
            elif algo == b"ZS" and _ZSTD is not None:
                chunk = _ZSTD(blob, usize)
            elif algo == b"L4" and _LZ4 is not None:
                chunk = _LZ4(blob, usize)
            elif algo in (b"L4", b"ZS"):
                raise RootFileError(
                    f"{self.path}: {algo.decode()} compression needs the system "
                    "libzstd/liblz4 (not found); re-write the file with "
                    "ZLIB/LZMA or use the root_io convert path"
                )
            else:
                raise RootFileError(f"{self.path}: unknown compression {algo!r}")
            out.append(chunk)
            total += len(chunk)
            p += 9 + csize
        return b"".join(out)

    @property
    def streamers(self) -> dict[str, list[dict]]:
        """Class member tables from the file's StreamerInfo record
        (empty when the file carries none)."""
        if getattr(self, "_streamers", None) is None:
            self._streamers = {}
            for k in self._keys:
                if k.name == "StreamerInfo" and k.cls == "TList":
                    try:
                        self._streamers = parse_streamer_infos(
                            self._payload(k), k.keylen
                        )
                    except Exception:
                        self._streamers = {}
                    break
        return self._streamers

    def _member_typename(self, member: str) -> str | None:
        """The C++ type of a named data member, when every streamer
        class that declares it agrees (ambiguous names return None)."""
        if getattr(self, "_member_types", None) is None:
            mt: dict[str, set] = {}
            for members in self.streamers.values():
                for m in members:
                    if m["typename"] not in ("BASE",):
                        mt.setdefault(m["name"], set()).add(m["typename"])
            self._member_types = mt
        tns = self._member_types.get(member)
        if tns and len(tns) == 1:
            return next(iter(tns))
        return None

    def _member_title(self, member: str) -> str | None:
        """The streamer comment string of a named member (where ROOT
        records Double32 packing specs like ``//[0,100,16]``)."""
        ts = self._member_title_set(member)
        if ts and len(ts) == 1:
            return next(iter(ts))
        return None

    def _member_title_set(self, member: str) -> set:
        """ALL streamer comment strings recorded for a member name across
        the file's classes (empty when unknown / no StreamerInfo)."""
        if getattr(self, "_member_titles", None) is None:
            mt: dict[str, set] = {}
            for members in self.streamers.values():
                for m in members:
                    t = m.get("title")
                    if t:
                        mt.setdefault(m["name"], set()).add(t)
            self._member_titles = mt
        return self._member_titles.get(member) or set()

    def _double32_is_plain(self, member: str) -> bool:
        """True only when the streamer evidence POSITIVELY shows a
        Double32 member has no [min,max,nbits] packing spec (packed
        Double32 shares f4's itemsize, so a wrong guess decodes raw
        packed bits as floats with no error — fail closed on ambiguity:
        no StreamerInfo record, member unknown, or any candidate title
        carrying a spec)."""
        if not self.streamers:
            return False
        ts = self._member_title_set(member)
        if not ts:
            return False
        return not any("[" in t for t in ts)

    @staticmethod
    def _typename_branchinfo(name: str, tn: str) -> "BranchInfo | None":
        """BranchInfo for a member's C++ type name (streamer fallback):
        plain, doubly- and triply-nested vectors, and ElementLink
        vectors."""
        tn = re.sub(r"\s*([<>])\s*", r"\1", tn.replace("std::", "")).strip()
        m = re.fullmatch(r"vector<vector<vector<([^<>]+?)>>>", tn)
        if m is not None:
            # vector<vector<vector<T>>> (e.g. xAOD MET overlapIndices):
            # entry = 10-byte outer header + n1, each middle vector an i4
            # count, each inner vector an i4 count + raw elements —
            # verified byte-level against PHYSLITE_example
            # (reference reads these via uproot's AsObjects interpretation;
            # 3-deep index semantics: nanoevents/transforms.py:881-922)
            dt = _VECTOR_DTYPES.get(m.group(1))
            if dt is None:
                return None
            return BranchInfo(
                name, dt, None, 1, is_bool=(m.group(1) == "bool"),
                from_offsets=True, header_bytes=10, depth=3,
            )
        m = re.fullmatch(r"vector<vector<(.+?)>>", tn)
        inner2 = m.group(1) if m else None
        m = re.fullmatch(r"vector<([^<>]+?)>", tn)
        inner1 = m.group(1) if m else None
        if inner2 is not None:
            if inner2.startswith("ElementLink<"):
                return BranchInfo(
                    name, "u4", None, 1, is_bool=False,
                    from_offsets=True, header_bytes=10, depth=2, link=True,
                )
            dt = _VECTOR_DTYPES.get(inner2)
            if dt is None:
                return None
            return BranchInfo(
                name, dt, None, 1, is_bool=(inner2 == "bool"),
                from_offsets=True, header_bytes=10, depth=2,
            )
        if tn.startswith("vector<ElementLink<"):
            return BranchInfo(
                name, "u4", None, 1, is_bool=False,
                from_offsets=True, header_bytes=10, depth=1, link=True,
            )
        if tn.startswith("ElementLink<"):
            # SCALAR link member (one ElementLink object per entry, e.g.
            # EventInfo hardScatterVertexLink): depth 0 = no list axis;
            # per-entry record is bytecount(4) version(2)
            # [checksum(4) if version==0] persKey(4) persIndex(4).
            # Callers must validate the framing against real data before
            # accepting (_probe_scalar_link) — a split parent carries
            # the same fClassName but a counts-only payload.
            return BranchInfo(
                name, "u4", None, 1, is_bool=False, depth=0, link=True,
            )
        if inner1 == "string":
            return BranchInfo(
                name, "u1", None, 1, is_bool=False,
                from_offsets=True, header_bytes=10, string=2,
            )
        if inner1 is not None:
            dt = _VECTOR_DTYPES.get(inner1)
            if dt is None:
                return None
            return BranchInfo(
                name, dt, None, 1, is_bool=(inner1 == "bool"),
                from_offsets=True, header_bytes=10,
            )
        if tn in ("string", "TString"):
            return BranchInfo(
                name, "u1", None, 1, is_bool=False,
                from_offsets=True, string=1,
            )
        return None

    def _parse_leaves(self) -> dict[str, BranchInfo]:
        """Targeted TLeaf deserialization (see module docstring)."""
        buf = self._tree_buf
        keylen = self._tree_key.keylen
        # first-use class tags: map displacement -> class name
        firsts: dict[int, str] = {}
        for m in _LEAF_RE.finditer(buf):
            # ROOT displacement = buffer position (of the classname) + keylen
            # - 2 relative coordinates; verified against back-references.
            firsts[m.start(1) + keylen - 2] = m.group(1).decode()

        out: dict[str, BranchInfo] = {}
        for name in self._baskets:
            nb = name.encode("latin1")
            pat = re.escape(bytes([len(nb)]) + nb) if len(nb) < 255 else None
            if pat is None:
                continue
            branch_rec = None  # pos of this branch's TBranchElement TNamed
            for m in re.finditer(pat, buf):
                pos = m.start()
                tpos = pos + 1 + len(nb)
                try:
                    title, after = _read_string(buf, tpos)
                except Exception:
                    continue
                # leaflist leaves title as "name[counts]"; member-wise
                # split leaves (TLeafElement) title only the member suffix.
                # Branch names of fixed-dim members carry the bracket too
                # ("X.covMatrix.values[6]") — compare on the bracket-free
                # stems so those branches resolve to their leaf.
                base = title.split("[", 1)[0]
                name_stem = name.split("[", 1)[0]
                if not (
                    title.startswith(name)
                    or name_stem == base
                    or name_stem.endswith("." + base)
                ):
                    # AuxDyn/AuxInfo SCALAR members (xAOD EventInfo etc.)
                    # are plain TBranches whose TITLE is the leaflist
                    # spec for the SHORT member name ("eventNumber/l")
                    # while the TLeaf record carries only that short
                    # name — which this full-branch-name scan never
                    # finds. Type directly from the spec. Only the plain
                    # scalar form (no "[counter]") matches; Float16 "f"
                    # and Double32 "d" codes stay excluded (fail closed,
                    # packed encodings).
                    m_ll = _LEAFLIST_TITLE_RE.fullmatch(title)
                    if (
                        m_ll is not None
                        and name_stem.rsplit(".", 1)[-1] == m_ll.group(1)
                        and m_ll.group(2) in _LEAFLIST_CODES
                    ):
                        dt, isb = _LEAFLIST_CODES[m_ll.group(2)]
                        out[name] = BranchInfo(name, dt, None, 1, is_bool=isb)
                        break
                    continue
                # resolve the class tag written just before this object:
                # first-use: ...[ff ff ff ff][classname\0][hdrs(28)][name...]
                # back-ref:  ...[80|disp (4)][hdrs(28)][name...]
                cls = None
                fm = _LEAF_RE.search(buf, max(0, pos - 48), pos - 20)
                if fm is not None and fm.end() == pos - 28:
                    cls = fm.group(1).decode()
                elif pos >= 32:
                    tag = struct.unpack_from(">I", buf, pos - 32)[0]
                    if tag & 0x80000000:
                        cls = firsts.get(tag & 0x7FFFFFFF)
                if cls is None:
                    # most likely the branch record itself (TBranchElement
                    # TNamed) — remember it: its fClassName TString sits a
                    # few members after the title
                    branch_rec = pos
                    continue
                if cls == "TLeafC":
                    # string leaf: one TString per entry, framed by the
                    # basket entry-offset table
                    out[name] = BranchInfo(
                        name, "u1", None, 1, is_bool=False,
                        from_offsets=True, string=1,
                    )
                    break
                # leaf body: fLen(i4) fLenType(i4) fOffset(i4) fIsRange(u1)
                # fIsUnsigned(u1) fLeafCount(objptr)
                flen, _ltype, _loff = struct.unpack_from(">iii", buf, after)
                unsigned = buf[after + 13] != 0
                if cls == "TLeafElement":
                    # member-wise split branch: element type from fType.
                    # fLeafCount is an object pointer: 0 = null, a plain
                    # displacement = 4-byte back-reference to the count
                    # leaf, kByteCountMask bit = the count-leaf object
                    # written INLINE (first leaf of a collection) — skip
                    # its bytecount+4 to land on fID/fType.
                    ptr = struct.unpack_from(">I", buf, after + 14)[0]
                    body = after + 18
                    if ptr & 0x40000000:
                        body = after + 18 + (ptr & 0x3FFFFFFF)
                    ftype = struct.unpack_from(">i", buf, body + 4)[0]
                    base = ftype % 20 if 20 < ftype < 40 else ftype
                    dt = _STREAMER_DTYPES.get(base)
                    if base == 9 and dt is not None:
                        # Double32 with a [min,max,nbits] packing spec is
                        # stored as packed uint32 (same itemsize as f4):
                        # it would decode silently wrong. Fail CLOSED —
                        # only accept f4 when the streamer title is
                        # uniquely resolved and positively lacks a spec.
                        if not self._double32_is_plain(
                            name_stem.rsplit(".", 1)[-1].split("[", 1)[0]
                        ):
                            break
                    header = 0
                    if dt is None and ftype in (-1, 0, 300, 365, 65):
                        # object-wise STL branch (fType 300 = kSTL, or
                        # unset): element type from the branch's
                        # fClassName ("vector<float>") — a TString a few
                        # members after the TBranchElement's own name
                        # record (tracked above); fall back to a forward
                        # window from the leaf.
                        vp = -1
                        if branch_rec is not None:
                            vp = buf.find(
                                b"vector<", branch_rec, min(branch_rec + 500, pos)
                            )
                        if vp < 0:
                            vp = buf.find(b"vector<", after, after + 900)
                        if vp < 0:
                            # scalar ElementLink members carry a bare
                            # "ElementLink<...>" fClassName (no vector<);
                            # it sits FORWARD of the leaf in the record,
                            # like the vector< fallback above. A false
                            # hit is harmless: scalar-link typing is only
                            # accepted after _probe_scalar_link validates
                            # the framing against every basket.
                            vp = buf.find(b"ElementLink<", after, after + 900)
                            if vp < 0 and branch_rec is not None:
                                vp = buf.find(
                                    b"ElementLink<", branch_rec,
                                    min(branch_rec + 500, pos),
                                )
                        full = None
                        if vp > 0:
                            # fClassName is a length-prefixed TString: use
                            # the FULL string to tell vector<T> from
                            # vector<vector<T>> / ElementLink vectors
                            slen = buf[vp - 1]
                            full = buf[vp : vp - 1 + 1 + slen].decode(
                                "latin1", "replace"
                            )
                            if not full.endswith(">"):
                                full = None
                        bi = (
                            self._typename_branchinfo(name, full)
                            if full else None
                        )
                        if bi is None:
                            # next: the member's C++ type from the file's
                            # StreamerInfo dictionary (xAOD Aux stores
                            # carry the PARENT class in fClassName; the
                            # member type exists nowhere else)
                            member = name_stem.rsplit(".", 1)[-1]
                            tn = self._member_typename(member)
                            bi = (
                                self._typename_branchinfo(name, tn)
                                if tn else None
                            )
                        if (
                            bi is not None
                            and bi.link
                            and bi.depth == 0
                            and not self._probe_scalar_link(name)
                        ):
                            # same fClassName appears on SPLIT parents
                            # whose payload is counts, not link records —
                            # accept only when the framing walks clean
                            bi = None
                        if bi is None:
                            # last resort: DATA probe — some std::string
                            # branches stream with an EMPTY fClassName, so
                            # validate TString framing against every entry
                            # of the first basket
                            kind = self._probe_string(name)
                            if kind:
                                bi = BranchInfo(
                                    name, "u1", None, 1, is_bool=False,
                                    from_offsets=True,
                                    header_bytes={1: 0, 2: 10, 3: 6}[kind],
                                    string=kind,
                                )
                        if bi is not None:
                            out[name] = bi
                        break
                    if dt is None:
                        break  # object-typed member: unsupported
                    jagged = "[" in title or ptr != 0
                    out[name] = BranchInfo(
                        name, dt, None, 1, is_bool=(base == 18),
                        from_offsets=jagged,
                    )
                    break
                dt = _LEAF_DTYPES[cls][1 if unsigned else 0]
                counts = None
                fixed = max(int(flen), 1)
                bm = re.match(re.escape(name) + r"((?:\[\w+\])+)", title)
                if bm:
                    dims = re.findall(r"\[(\w+)\]", bm.group(1))
                    if all(d.isdigit() for d in dims):
                        # multi-dim fixed leaf ("x[2][3]"): total width is
                        # the PRODUCT of the dims — the TLeaf fLen already
                        # carries it, so trust the larger of the two rather
                        # than the first bracket alone (which silently
                        # mis-framed trailing values).
                        prod = 1
                        for d in dims:
                            prod *= int(d)
                        fixed = max(fixed, prod, 1)
                    elif len(dims) == 1:
                        counts = dims[0]
                    else:
                        # counts variable mixed with fixed dims (e.g.
                        # "x[n][3]"): cannot frame without per-entry
                        # multiplication — skip rather than mis-frame.
                        break
                out[name] = BranchInfo(
                    name, dt, counts, fixed, is_bool=(cls == "TLeafO")
                )
                break
            if name not in out and branch_rec is not None:
                # the leaf record carries a member-suffix NAME that never
                # matched the full branch-name pattern (e.g. leaf
                # "positionError[6]" under branch "X.positionError[6]",
                # or a dynamic-attribute leaf named after the attribute):
                # type the branch from its fClassName window or the
                # StreamerInfo member table. All member-wise sub-branches
                # frame entries by the basket offset table, so basic
                # members read as jagged columns.
                candidates = []
                vp = buf.find(b"vector<", branch_rec, branch_rec + 500)
                if vp > 0:
                    slen = buf[vp - 1]
                    full = buf[vp : vp - 1 + 1 + slen].decode(
                        "latin1", "replace"
                    )
                    if full.endswith(">"):
                        candidates.append(full)
                member = name.split("[", 1)[0].rsplit(".", 1)[-1]
                tn = self._member_typename(member)
                if tn:
                    candidates.append(tn)
                for cand in candidates:
                    bi = self._typename_branchinfo(name, cand)
                    if bi is None:
                        tnn = re.sub(
                            r"\s*([<>])\s*", r"\1", cand.replace("std::", "")
                        ).strip()
                        dt = _VECTOR_DTYPES.get(tnn)
                        if dt is not None:
                            bi = BranchInfo(
                                name, dt, None, 1,
                                is_bool=(tnn == "bool"), from_offsets=True,
                            )
                    if bi is not None:
                        out[name] = bi
                        break
        return out

    # -- public -------------------------------------------------------------

    @property
    def branch_names(self) -> list[str]:
        return list(self.branches)

    @property
    def entries(self) -> int:
        if self._entries is None:
            for name, info in self.branches.items():
                if info.counts is None and info.fixed_len == 1 and not info.from_offsets:
                    self._entries = sum(
                        self._basket_nev(k) for k in self._baskets[name]
                    )
                    break
            else:
                # TBranchElement-only tree: every basket header carries the
                # entry count regardless of member type
                if self.branches:
                    name = next(iter(self.branches))
                    self._entries = sum(
                        self._basket_nev(k) for k in self._baskets[name]
                    )
                else:
                    self._entries = 0
        return self._entries

    def _basket_nev(self, key: _Key) -> int:
        # TBasket members after the TKey header: fVersion(h) fBufferSize(i)
        # fNevBufSize(i) fNevBuf(i) fLast(i)
        if isinstance(key, _EmbeddedKey):
            return key.nev
        return struct.unpack_from(">hiii", self._data, key.hdrend)[3]

    def _basket_last(self, key: _Key) -> int:
        if isinstance(key, _EmbeddedKey):
            return key.last
        return struct.unpack_from(">hiiii", self._data, key.hdrend)[4]

    def _basket_data(self, name, info: BranchInfo, itemsize: int, k: _Key):
        """Values of ONE basket as (big-endian vals, per-entry counts or
        None, per-inner-vector counts or None). The per-basket unit of
        work for both whole-branch and entry-range reads."""
        buf = self._payload(k)
        border = self._basket_last(k) - k.keylen
        if info.link:
            return self._basket_links(name, info, k, buf, border)
        if info.string:
            return self._basket_strings(name, info, k, buf, border)
        if info.depth == 3:
            # vector<vector<vector<T>>>: entry = 10-byte outer header
            # with n1, then per middle vector an i4 count, then per inner
            # vector an i4 count + elements (no headers below the outer)
            vals, outer_counts, mid_counts, inner_counts = [], [], [], []
            offs = self._entry_offsets(k, buf, border)
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                n_outer = struct.unpack_from(">i", buf, p + 6)[0]
                outer_counts.append(n_outer)
                q = p + 10
                for _ in range(n_outer):
                    n_mid = struct.unpack_from(">i", buf, q)[0]
                    mid_counts.append(n_mid)
                    q += 4
                    for _ in range(n_mid):
                        n_in = struct.unpack_from(">i", buf, q)[0]
                        inner_counts.append(n_in)
                        vals.append(
                            np.frombuffer(
                                buf, dtype=">" + info.dtype, count=n_in, offset=q + 4
                            )
                        )
                        q += 4 + n_in * itemsize
                if q != end:
                    raise RootFileError(
                        f"{self.path}:{name}: triple-nested framing mismatch "
                        f"({q} != {end} at entry {e})"
                    )
            flat = (
                np.concatenate(vals) if vals else np.empty(0, dtype=">" + info.dtype)
            )
            return (
                flat,
                np.asarray(outer_counts, dtype=np.int64),
                (
                    np.asarray(mid_counts, dtype=np.int64),
                    np.asarray(inner_counts, dtype=np.int64),
                ),
            )
        if info.depth == 2:
            # vector<vector<T>>: entry = 10-byte outer header with the
            # outer size, then per inner vector an i4 count + elements
            vals, outer_counts, inner_counts = [], [], []
            offs = self._entry_offsets(k, buf, border)
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                n_outer = struct.unpack_from(">i", buf, p + 6)[0]
                outer_counts.append(n_outer)
                q = p + 10
                for _ in range(n_outer):
                    n_in = struct.unpack_from(">i", buf, q)[0]
                    inner_counts.append(n_in)
                    vals.append(
                        np.frombuffer(buf, dtype=">" + info.dtype, count=n_in, offset=q + 4)
                    )
                    q += 4 + n_in * itemsize
                if q != end:
                    raise RootFileError(
                        f"{self.path}:{name}: nested-vector framing mismatch "
                        f"({q} != {end} at entry {e})"
                    )
            flat = (
                np.concatenate(vals) if vals else np.empty(0, dtype=">" + info.dtype)
            )
            return (
                flat,
                np.asarray(outer_counts, dtype=np.int64),
                np.asarray(inner_counts, dtype=np.int64),
            )
        if info.header_bytes:
            offs = self._entry_offsets(k, buf, border)
            sizes = np.diff(offs) - info.header_bytes
            if (sizes < 0).any() or (sizes % itemsize).any():
                raise RootFileError(
                    f"{self.path}:{name}: bad STL entry framing"
                )
            raw = np.frombuffer(buf, dtype=np.uint8, count=border)
            idx = np.concatenate(
                [
                    np.arange(o + info.header_bytes, o + info.header_bytes + s)
                    for o, s in zip(offs[:-1], sizes)
                ]
                or [np.empty(0, dtype=np.int64)]
            ).astype(np.int64)
            vals = np.frombuffer(raw[idx].tobytes(), dtype=">" + info.dtype)
            return vals, (sizes // itemsize).astype(np.int64), None
        vals = np.frombuffer(buf, dtype=">" + info.dtype, count=border // itemsize)
        if info.from_offsets:
            return vals, self._entry_counts(k, buf, border, itemsize).astype(np.int64), None
        return vals, None, None

    # Baskets checked by _probe_string before accepting a classification.
    # One basket leaves a misclassification window (a non-string payload
    # whose first basket happens to frame as valid TStrings would raise
    # mid-scan at a LATER basket rather than at schema time); validating
    # exact framing consumption across several independent baskets closes
    # it for practical purposes while keeping the probe O(few baskets).
    _PROBE_BASKETS = 4

    @staticmethod
    def _walk_scalar_links(buf, border: int):
        """Walk fixed scalar-ElementLink records: yields (persKey,
        persIndex) per entry; raises on any framing inconsistency."""
        p = 0
        while p < border:
            bc = struct.unpack_from(">I", buf, p)[0]
            if not bc & 0x40000000:
                raise RootFileError("scalar link record missing bytecount")
            end = p + 4 + (bc & 0x3FFFFFFF)
            if end > border:
                raise RootFileError("scalar link record overruns basket")
            ver = struct.unpack_from(">H", buf, p + 4)[0]
            q = p + 6 + (4 if ver == 0 else 0)  # version 0 -> +checksum
            if q + 8 != end:
                raise RootFileError("scalar link record has wrong size")
            yield struct.unpack_from(">II", buf, q)
            p = end

    def _probe_scalar_link(self, name: str) -> bool:
        """True when every basket of the branch frames cleanly as one
        scalar ElementLink record per entry (validated against ALL
        baskets — a split parent shares the fClassName but carries a
        counts payload that fails this walk)."""
        keys = self._baskets.get(name, [])
        if not keys:
            return False
        for k in keys:
            try:
                buf = self._payload(k)
                border = self._basket_last(k) - k.keylen
                n = sum(1 for _ in self._walk_scalar_links(buf, border))
            except Exception:
                return False
            if n != self._basket_nev(k):
                return False
        return True

    def _probe_string(self, name: str) -> int:
        """Classify an otherwise-untypeable branch by validating string
        framing against EVERY entry of its first few baskets (up to
        ``_PROBE_BASKETS``): 1 = one TString per entry, 2 =
        vector<string>, 3 = member-wise split STL strings (bytecount +
        version header, map<string,string> sub-branches), 0 = none. A
        candidate kind must validate on ALL probed baskets; exact-
        consumption across all their entries makes misclassification
        vanishingly unlikely. Kind 3 is only accepted when 1 and 2 fail
        (its bytecount self-describes the entry, so the check is
        byte-exact too)."""
        keys = self._baskets.get(name, [])
        if not keys:
            return 0

        def scalar_ok(buf, offs):
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                try:
                    _, p2 = _read_string(buf, p)
                except Exception:
                    return False
                if p2 != end:
                    return False
            return True

        def vector_ok(buf, offs):
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                if p + 10 > end:
                    return False
                n = struct.unpack_from(">i", buf, p + 6)[0]
                if not (0 <= n <= end - p):
                    return False
                p += 10
                for _ in range(n):
                    try:
                        _, p = _read_string(buf, p)
                    except Exception:
                        return False
                    if p > end:
                        return False
                if p != end:
                    return False
            return True

        def memberwise_ok(buf, offs):
            for e in range(len(offs) - 1):
                p, end = int(offs[e]), int(offs[e + 1])
                if p + 6 > end:
                    return False
                bc = struct.unpack_from(">I", buf, p)[0]
                if not (bc & 0x40000000) or p + 4 + (bc & 0x3FFFFFFF) != end:
                    return False
                p += 6
                while p < end:
                    try:
                        _, p = _read_string(buf, p)
                    except Exception:
                        return False
                    if p > end:
                        return False
            return True

        scalar = vector = member = True
        probed = 0
        for k in keys[: self._PROBE_BASKETS]:
            try:
                buf = self._payload(k)
                border = self._basket_last(k) - k.keylen
                offs = self._entry_offsets(k, buf, border)
            except Exception:
                return 0
            if len(offs) < 2:
                continue
            probed += 1
            scalar = scalar and scalar_ok(buf, offs)
            vector = vector and vector_ok(buf, offs)
            member = member and memberwise_ok(buf, offs)
            if not (scalar or vector or member):
                return 0
        if not probed:
            return 0
        if scalar:
            return 1
        if vector:
            return 2
        if member:
            return 3
        return 0

    def _basket_strings(self, name, info: BranchInfo, k: _Key, buf, border):
        """String payloads: scalar (one TString per entry — TLeafC or a
        std::string member) or vector<string> (10-byte STL header, then
        TStrings). Values come back as an object array of str."""
        offs = self._entry_offsets(k, buf, border)
        vals, counts = [], []
        for e in range(len(offs) - 1):
            p, end = int(offs[e]), int(offs[e + 1])
            if info.string == 2:
                n = struct.unpack_from(">i", buf, p + 6)[0]
                p += 10
                counts.append(n)
                for _ in range(n):
                    s, p = _read_string(buf, p)
                    vals.append(s)
            elif info.string == 3:
                bc = struct.unpack_from(">I", buf, p)[0]
                if not (bc & 0x40000000) or p + 4 + (bc & 0x3FFFFFFF) != end:
                    raise RootFileError(
                        f"{self.path}:{name}: member-wise string header "
                        f"mismatch at entry {e}"
                    )
                p += 6
                before = len(vals)
                while p < end:
                    s, p = _read_string(buf, p)
                    vals.append(s)
                counts.append(len(vals) - before)
            else:
                s, p = _read_string(buf, p)
                vals.append(s)
            if p != end:
                raise RootFileError(
                    f"{self.path}:{name}: string framing mismatch "
                    f"({p} != {end} at entry {e})"
                )
        return (
            np.asarray(vals, dtype=object),
            np.asarray(counts, dtype=np.int64) if info.string >= 2 else None,
            None,
        )

    _LINK_DTYPE = np.dtype([("persKey", "u4"), ("persIndex", "u4")])

    def _basket_links(self, name, info: BranchInfo, k: _Key, buf, border):
        """ElementLink vectors: entry = 10-byte STL header, then (depth 2:
        per inner vector an i4 count +) bytecount-framed link objects.
        Each object's payload ends with (m_persKey u4, m_persIndex u4) —
        the ElementLinkBase persistent members; version/checksum framing
        in front varies by dictionary age, so elements are walked by
        their own bytecounts. Depth 0 = SCALAR link member (one record
        per entry, no STL header, no offset table)."""
        if info.depth == 0:
            pairs = list(self._walk_scalar_links(buf, border))
            vals = np.empty(len(pairs), dtype=self._LINK_DTYPE)
            vals["persKey"] = [p[0] for p in pairs]
            vals["persIndex"] = [p[1] for p in pairs]
            return vals, None, None
        offs = self._entry_offsets(k, buf, border)
        keys, idxs, outer_counts, inner_counts = [], [], [], []

        def read_links(p, n, end):
            for _ in range(n):
                if p + 4 > end:
                    raise RootFileError(
                        f"{self.path}:{name}: ElementLink element overruns "
                        f"its entry"
                    )
                bc = struct.unpack_from(">I", buf, p)[0] & 0x3FFFFFFF
                e2 = p + 4 + bc
                if e2 > end or bc < 8:
                    raise RootFileError(
                        f"{self.path}:{name}: bad ElementLink bytecount {bc}"
                    )
                kk, ii = struct.unpack_from(">II", buf, e2 - 8)
                keys.append(kk)
                idxs.append(ii)
                p = e2
            return p

        for e in range(len(offs) - 1):
            p, end = int(offs[e]), int(offs[e + 1])
            ver = struct.unpack_from(">H", buf, p + 4)[0]
            if ver & 0x4000:
                # member-wise streamed vector<ElementLink>: element class
                # version (u2; 0 -> +u4 checksum), count, then all
                # persKeys followed by all persIndexes
                if info.depth == 2:
                    raise RootFileError(
                        f"{self.path}:{name}: member-wise nested "
                        "ElementLink vectors unsupported"
                    )
                q = p + 6
                elem_ver = struct.unpack_from(">H", buf, q)[0]
                q += 2
                if elem_ver == 0:
                    q += 4
                n_outer = struct.unpack_from(">i", buf, q)[0]
                q += 4
                if q + 8 * n_outer != end:
                    raise RootFileError(
                        f"{self.path}:{name}: member-wise ElementLink "
                        f"framing mismatch at entry {e}"
                    )
                outer_counts.append(n_outer)
                keys.extend(
                    np.frombuffer(buf, ">u4", count=n_outer, offset=q)
                )
                idxs.extend(
                    np.frombuffer(buf, ">u4", count=n_outer, offset=q + 4 * n_outer)
                )
                continue
            n_outer = struct.unpack_from(">i", buf, p + 6)[0]
            outer_counts.append(n_outer)
            p += 10
            if info.depth == 2:
                for _ in range(n_outer):
                    n_in = struct.unpack_from(">i", buf, p)[0]
                    inner_counts.append(n_in)
                    p = read_links(p + 4, n_in, end)
            else:
                p = read_links(p, n_outer, end)
            if p != end:
                raise RootFileError(
                    f"{self.path}:{name}: ElementLink framing mismatch "
                    f"({p} != {end} at entry {e})"
                )
        vals = np.empty(len(keys), dtype=self._LINK_DTYPE)
        vals["persKey"] = keys
        vals["persIndex"] = idxs
        return (
            vals,
            np.asarray(outer_counts, dtype=np.int64),
            np.asarray(inner_counts, dtype=np.int64) if info.depth == 2 else None,
        )

    @staticmethod
    def _native(vals: np.ndarray, info: BranchInfo) -> np.ndarray:
        if vals.dtype.names is not None or vals.dtype == object:
            return vals  # link structs / strings: already native
        vals = vals.astype(vals.dtype.newbyteorder("="))
        if info.is_bool:
            vals = vals.astype(bool)
        return vals

    def array(self, name: str) -> np.ndarray:
        """Flat (entry-concatenated) values of one branch, native byte
        order. Jagged branches return the flattened content — regroup with
        :meth:`counts`."""
        return self._range_column(name, 0, self.entries)[0]

    def basket_entry_index(self, name: str) -> np.ndarray:
        """Cumulative entry offsets of the branch's baskets (length
        n_baskets+1) — the split points for basket-aligned chunking."""
        if name not in self._basket_starts:
            nev = [self._basket_nev(k) for k in self._baskets.get(name, [])]
            self._basket_starts[name] = np.concatenate(
                [[0], np.cumsum(nev, dtype=np.int64)]
            )
        return self._basket_starts[name]

    def _basket_span(self, name: str, e0: int, e1: int) -> tuple[int, int]:
        """Indices ``[b_lo, b_hi)`` of the branch's baskets that overlap
        the entry range [e0, e1)."""
        idx = self.basket_entry_index(name)
        b_lo = max(int(np.searchsorted(idx, e0, side="right")) - 1, 0)
        return b_lo, int(np.searchsorted(idx, e1, side="left"))

    def _edge_off(self, name: str, e1: int) -> int | None:
        """File offset of the branch's basket that holds entry ``e1`` and
        also entries before it, or None when ``e1`` starts a basket."""
        idx = self.basket_entry_index(name)
        b = int(np.searchsorted(idx, e1, side="right")) - 1
        if b < len(idx) - 1 and idx[b] < e1:
            return self._baskets[name][b].off
        return None

    def _range_column(self, name: str, e0: int, e1: int, spans=None):
        """One branch over the half-open entry range [e0, e1): returns
        (native vals, per-entry counts or None, inner counts or None).
        Only baskets OVERLAPPING the range are decompressed, so peak
        memory is bounded by the range span + one basket on each edge —
        the reference's cluster-aligned chunk reads
        (processor/executor.py:110-181), Spark-first.

        ``spans`` maps a counts branch to ``(lo, its values over
        [lo, e1), their _cum)``, read once by :meth:`to_arrow` for every
        member it frames; without it a leaflist-jagged member reads its
        counts branch itself."""
        if spans and name in spans:
            lo, vals, _ = spans[name]
            return vals[e0 - lo :], None, None
        info = self.branches.get(name)
        if info is None:
            raise KeyError(
                f"{self.path}:{self.tree}: no readable branch {name!r} "
                f"(have {len(self.branches)})"
            )
        itemsize = np.dtype(info.dtype).itemsize
        idx = self.basket_entry_index(name)
        e1 = min(e1, int(idx[-1]))
        e0 = min(e0, e1)
        b_lo, b_hi = self._basket_span(name, e0, e1)
        B0 = int(idx[b_lo])
        parts, cparts, iparts = [], [], []
        for k in self._baskets.get(name, [])[b_lo:b_hi]:
            v, c, i = self._basket_data(name, info, itemsize, k)
            parts.append(v)
            if c is not None:
                cparts.append(c)
            if i is not None:
                iparts.append(i)
        vals = (
            np.concatenate(parts)
            if parts
            else np.empty(0, dtype=">" + info.dtype)
        )
        s0, s1 = e0 - B0, e1 - B0
        if info.depth == 3:
            outer = _cat(cparts)
            mid = _cat([t[0] for t in iparts])
            inner = _cat([t[1] for t in iparts])
            o_cum, m_cum, i_cum = _cum(outer), _cum(mid), _cum(inner)
            vals = vals[i_cum[m_cum[o_cum[s0]]] : i_cum[m_cum[o_cum[s1]]]]
            return (
                self._native(vals, info),
                outer[s0:s1],
                (
                    mid[o_cum[s0] : o_cum[s1]],
                    inner[m_cum[o_cum[s0]] : m_cum[o_cum[s1]]],
                ),
            )
        if info.depth == 2:
            outer, inner = _cat(cparts), _cat(iparts)
            o_cum, i_cum = _cum(outer), _cum(inner)
            vals = vals[i_cum[o_cum[s0]] : i_cum[o_cum[s1]]]
            return (
                self._native(vals, info),
                outer[s0:s1],
                inner[o_cum[s0] : o_cum[s1]],
            )
        if cparts or (info.from_offsets and info.string != 1):
            # offset-table jaggedness (STL / member-wise split)
            cts = _cat(cparts)
            cum = _cum(cts)
            return self._native(vals[cum[s0] : cum[s1]], info), cts[s0:s1], None
        if info.counts is not None:
            # leaflist jagged: frame with the counts branch from the first
            # basket's start (whole entries per basket by construction)
            if spans and info.counts in spans:
                lo, span, cum = spans[info.counts]
            else:
                lo, span = B0, self._range_column(info.counts, B0, e1)[0]
                cum = _cum(span)
            c0 = cum[B0 - lo]
            vals = vals[cum[e0 - lo] - c0 : cum[e1 - lo] - c0]
            return self._native(vals, info), span[e0 - lo : e1 - lo], None
        vals = vals[s0 * info.fixed_len : s1 * info.fixed_len]
        cts = (
            np.full(s1 - s0, info.fixed_len, dtype=np.int64)
            if info.fixed_len > 1
            else None
        )
        return self._native(vals, info), cts, None

    def counts(self, name: str) -> np.ndarray | None:
        """Per-entry element counts of a jagged branch; None for scalar
        and fixed-length branches."""
        info = self.branches[name]
        if info.counts is not None:
            return self.array(info.counts)
        if info.from_offsets and info.string != 1:
            return self._range_column(name, 0, self.entries)[1]
        return None

    def inner_counts(self, name: str) -> np.ndarray | tuple | None:
        """Sub-entry counts of a nested branch: depth 2 returns the
        per-inner-vector element counts; depth 3 returns the
        ``(per-middle-vector, per-inner-vector)`` count pair."""
        if self.branches[name].depth < 2:
            return None
        return self._range_column(name, 0, self.entries)[2]

    def _entry_offsets(self, key: _Key, buf: bytes, border: int) -> np.ndarray:
        """Per-entry byte offsets (0-based into the content region) from
        the basket's entry-offset table (written after the content for
        variable-size branches)."""
        nev = self._basket_nev(key)
        m = struct.unpack_from(">i", buf, border)[0]
        if m < nev:
            raise RootFileError(
                f"{self.path}:{key.name}: entry-offset table too short ({m} < {nev})"
            )
        offs = np.frombuffer(buf, dtype=">i4", count=nev, offset=border + 4).astype(np.int64)
        offs = np.append(offs - key.keylen, border)
        if len(offs) != nev + 1 or offs[0] != 0 or offs[-1] != border:
            raise RootFileError(
                f"{self.path}:{key.name}: malformed entry-offset table "
                f"(n={m}, nev={nev}, span={offs[0]}..{offs[-1]}, border={border})"
            )
        return offs

    def _entry_counts(self, key: _Key, buf: bytes, border: int, itemsize: int) -> np.ndarray:
        """Per-entry element counts for member-wise split branches."""
        byte_counts = np.diff(self._entry_offsets(key, buf, border))
        if (byte_counts % itemsize).any():
            raise RootFileError(
                f"{self.path}:{key.name}: entry sizes not divisible by item size"
            )
        return byte_counts // itemsize

    def to_arrow(
        self,
        columns: list[str] | None = None,
        entry_start: int = 0,
        entry_stop: int | None = None,
    ):
        """One Arrow table for the entry range [entry_start, entry_stop)
        of the tree (the whole tree by default): scalar branches as flat
        columns, jagged branches as list columns, fixed-size arrays as
        ``fixed_len``-wide lists.

        Only the baskets overlapping the range are decompressed, each once
        per call: a counts branch is read once for all the members it
        frames. The reader keeps no decoded arrays between calls, only
        the payload of each column's basket that straddles
        ``entry_stop``, which an adjacent next range starts in."""
        import pyarrow as pa

        names = columns if columns is not None else list(self.branches)
        e1 = self.entries if entry_stop is None else min(entry_stop, self.entries)
        e0 = min(entry_start, e1)
        lo: dict[str, int] = {}  # counts branch -> earliest member basket start
        for name in names:
            c = self.branches[name].counts
            if c is not None:
                b_lo = self._basket_span(name, e0, e1)[0]
                lo[c] = min(lo.get(c, e0), int(self.basket_entry_index(name)[b_lo]))
        self._edge_offs = {self._edge_off(n, e1) for n in {*names, *lo}} - {None}
        spans = {}
        for c, s in lo.items():
            v = self._range_column(c, s, e1)[0]
            spans[c] = (s, v, _cum(v))
        arrays = []
        for name in names:
            info = self.branches[name]
            vals, cts, inner = self._range_column(name, e0, e1, spans)
            arr = _pa_values(vals)
            if info.depth >= 2:
                levels = (*inner[::-1], cts) if info.depth == 3 else (inner, cts)
                for level in levels:
                    arr = pa.ListArray.from_arrays(pa.array(_offsets(level)), arr)
            elif cts is not None:
                off = _offsets(cts)
                if off[-1] != len(vals):
                    raise RootFileError(
                        f"{self.path}:{name}: counts/content mismatch in "
                        f"range [{e0},{e1}) ({off[-1]} vs {len(vals)})"
                    )
                arr = pa.ListArray.from_arrays(pa.array(off), arr)
            elif len(vals) != e1 - e0:
                raise RootFileError(
                    f"{self.path}:{name}: {len(vals)} values for "
                    f"{e1 - e0} entries in range [{e0},{e1})"
                )
            arrays.append(arr)
        self._edge = {o: b for o, b in self._edge.items() if o in self._edge_offs}
        return pa.Table.from_arrays(arrays, names=names)


def _cat(parts: list) -> np.ndarray:
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _cum(counts: np.ndarray) -> np.ndarray:
    """Running totals of per-entry counts with a leading 0 (int64)."""
    return np.concatenate([[0], np.cumsum(counts, dtype=np.int64)])


def _offsets(counts: np.ndarray) -> np.ndarray:
    """Arrow list offsets (int32) of per-entry counts."""
    off = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=off[1:])
    return off


# Process-level reader LRU: opening a tree parses the TKey directory,
# StreamerInfo tables, and branch-typing probes — fixed per-call work
# that repeated gate/planner calls over the same small files paid again
# and again (root_scan spent seconds of its wall here). Keyed by
# (path, tree, size, mtime_ns) so any rewrite invalidates. Capacity is
# small: entries hold an mmap plus the payloads of the baskets that
# straddle the end of their last read range, and reuse only matters
# for the same files hit repeatedly (driver planning, reused Python
# workers). Not thread-safe; Spark Python workers and the driver
# planner are single-threaded per process.
_TREE_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_TREE_CACHE_MAX = 8


def open_tree(path: str, tree: str | None = None, cache: bool = True):
    """Open a columnar tree regardless of on-disk format: TTree via
    :class:`RootTreeReader`, RNTuple via
    :class:`coffea_spark.rntuple.RNTupleReader` (same API). Readers are
    memoized per process (see ``_TREE_CACHE``); pass ``cache=False``
    for a fresh instance."""
    key = None
    if cache:
        st = os.stat(path)
        key = (path, tree, st.st_size, st.st_mtime_ns)
        r = _TREE_CACHE.get(key)
        if r is not None:
            _TREE_CACHE.move_to_end(key)
            return r
    try:
        r = RootTreeReader(path, tree)
    except RootFileError as exc:
        if "RNTuple" not in str(exc):
            raise
        from coffea_spark.rntuple import RNTupleReader

        r = RNTupleReader(path, tree)
    if key is not None:
        _TREE_CACHE[key] = r
        while len(_TREE_CACHE) > _TREE_CACHE_MAX:
            _TREE_CACHE.popitem(last=False)
    return r


def root_to_arrow(path: str, tree: str | None = None, columns: list[str] | None = None):
    """Read one flat TTree/RNTuple into an Arrow table (column-pruned)."""
    r = open_tree(path, tree)
    if columns is not None:
        missing = [c for c in columns if c not in r.branches]
        if missing:
            raise KeyError(f"{path}: branches not readable: {missing}")
    return r.to_arrow(columns)


def arrow_field_for(info):
    """Arrow type for one BranchInfo — the reader's only type rule
    (Spark's types are its ``from_arrow_schema``). Unsigned types widen
    to the next signed type; u8 maps to decimal128(20,0), as Spark's
    parquet reader maps UINT64 (xAOD pileUpMixtureID exceeds int64)."""
    import pyarrow as pa

    _PA = {
        "f4": pa.float32(), "f8": pa.float64(),
        "i1": pa.int8(), "i2": pa.int16(), "i4": pa.int32(), "i8": pa.int64(),
        "u1": pa.int16(), "u2": pa.int32(), "u4": pa.int64(),
        "u8": pa.decimal128(20, 0),
    }
    if info.link:
        base = pa.struct([("persKey", pa.int64()), ("persIndex", pa.int64())])
    elif info.string:
        return pa.string() if info.string == 1 else pa.list_(pa.string())
    else:
        base = pa.bool_() if info.is_bool else _PA[info.dtype]
    if info.depth == 3:
        return pa.list_(pa.list_(pa.list_(base)))
    if info.depth == 2:
        return pa.list_(pa.list_(base))
    if info.counts is not None or info.fixed_len > 1 or info.from_offsets:
        return pa.list_(base)
    return base


def arrow_schema_for(reader, columns: list[str]):
    """Arrow schema of ``columns`` under :func:`arrow_field_for`."""
    import pyarrow as pa

    return pa.schema([pa.field(c, arrow_field_for(reader.branches[c])) for c in columns])


def spark_schema_for(reader, columns: list[str]):
    """Spark StructType of ``columns``: Spark's view of
    :func:`arrow_schema_for`."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow_schema_for(reader, columns))


def plan_chunks(paths: list[str], tree: str | None, split_rows: int):
    """(path, start, stop) work items, ``split_rows`` entries each — the
    reference's cluster-aligned chunking (processor/executor.py:110-181)
    so one multi-GB file fans out across executors."""
    chunks = []
    for p in paths:
        n = open_tree(p, tree).entries
        if n == 0:
            chunks.append((p, 0, 0))
        for s in range(0, n, split_rows):
            chunks.append((p, s, min(s + split_rows, n)))
    return chunks


def read_root(
    spark,
    paths: list[str] | str,
    tree: str | None = None,
    columns: list[str] | None = None,
    batch_rows: int = 65536,
    split_rows: int = 1 << 19,
):
    """Distributed flat-TTree scan: ``spark.read.format("root")`` with
    the arguments as its options (see :mod:`coffea_spark.datasource`).

    ``paths`` is a list of files, or one glob, directory or file. Each
    file splits into ``split_rows``-entry partitions, and each partition
    streams ``batch_rows``-entry Arrow batches. Reference surface:
    NanoEventsFactory.from_root over a fileset (factory.py:267-480).
    """
    from coffea_spark.datasource import register_root_source

    if not paths:
        raise ValueError("read_root: empty path list")
    register_root_source(spark)
    opts = {"batch_rows": batch_rows, "split_rows": split_rows}
    if tree is not None:
        opts["tree"] = tree
    if columns is not None:
        opts["columns"] = ",".join(columns)
    return spark.read.format("root").options(**opts).load(paths)


# ---------------------------------------------------------------------------
# histogram objects (TH1/TH2/TH3, F/D) — the reference's
# lookup_tools/root_converters.py:19-49 without uproot
# ---------------------------------------------------------------------------

_HIST_CLASSES = {
    "TH1F": (1, "f4"), "TH1D": (1, "f8"),
    "TH2F": (2, "f4"), "TH2D": (2, "f8"),
    "TH3F": (3, "f4"), "TH3D": (3, "f8"),
}


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def rd(self, fmt: str):
        v = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos += struct.calcsize(fmt)
        return v if len(v) > 1 else v[0]

    def hdr(self) -> int:
        """Versioned-object header: returns the END position of the object
        (bytecount counts from the version word)."""
        bc = self.rd(">I") & 0x3FFFFFFF
        end = self.pos + bc
        self.rd(">H")  # version
        return end

    def skip_obj(self):
        bc = self.rd(">I") & 0x3FFFFFFF
        self.pos += bc

    def tarray(self, dtype: str) -> np.ndarray:
        n = self.rd(">i")
        out = np.frombuffer(
            self.buf, dtype=">" + dtype, count=n, offset=self.pos
        ).astype(dtype)
        self.pos += n * np.dtype(dtype).itemsize
        return out


def _parse_axis(c: _Cursor) -> np.ndarray:
    """TAxis -> bin edges (len nbins+1); variable edges from fXbins,
    uniform from fXmin/fXmax."""
    end = c.hdr()
    c.skip_obj()  # TNamed
    c.skip_obj()  # TAttAxis
    nbins = c.rd(">i")
    xmin = c.rd(">d")
    xmax = c.rd(">d")
    xbins = c.tarray("f8")
    c.pos = end
    if len(xbins):
        return xbins
    return np.linspace(xmin, xmax, nbins + 1)


def _parse_hist(cls: str, buf: bytes):
    """Deserialize one TH1x/TH2x/TH3x record: (edges tuple, values with
    flow stripped, errors with flow stripped).  Walks the streamed bases
    with bytecount skipping — no TStreamerInfo machinery needed; the
    member order relied on (axes -> stat block -> fContour -> fSumw2) is
    stable since TH1 v4."""
    dim, dtype = _HIST_CLASSES[cls]
    c = _Cursor(buf)
    c.hdr()                      # TH1F/TH2F/... outer
    mid_end = c.hdr() if dim > 1 else None  # TH2/TH3 base
    th1_end = c.hdr()            # TH1 base
    for _ in range(4):           # TNamed, TAttLine, TAttFill, TAttMarker
        c.skip_obj()
    ncells = c.rd(">i")
    axes = [_parse_axis(c) for _ in range(3)]
    c.rd(">hh")                  # fBarOffset, fBarWidth
    c.rd(">8d")                  # fEntries..fNormFactor
    c.tarray("f8")               # fContour
    sumw2 = c.tarray("f8")
    # jump to the end of the outermost parsed base, then the bin contents
    c.pos = mid_end if mid_end is not None else th1_end
    values = c.tarray(dtype).astype("f8")
    if len(values) != ncells:
        raise RootFileError(f"{cls}: {len(values)} cells, expected {ncells}")
    variances = sumw2 if len(sumw2) == ncells else values.clip(min=0.0)
    nx = len(axes[0]) - 1
    ny = len(axes[1]) - 1 if dim > 1 else 1
    nz = len(axes[2]) - 1 if dim > 2 else 1
    # ROOT global bin = x + (nx+2)*(y + (ny+2)*z), flow bins included
    def shape(arr):
        a = arr.reshape(nz + 2 if dim > 2 else 1, ny + 2 if dim > 1 else 1, nx + 2)
        a = a[..., 1:-1]
        if dim > 1:
            a = a[:, 1:-1, :]
        if dim > 2:
            a = a[1:-1, :, :]
        # to (x, y, z) axis order, squeezing absent dims
        a = np.transpose(a, (2, 1, 0))
        return a.reshape(a.shape[:dim])

    edges = tuple(axes[:dim])
    return edges, shape(values), np.sqrt(shape(variances))


def read_histograms(path: str) -> dict:
    """All TH1/TH2/TH3 (F/D) objects of a ROOT file:
    ``{name: (edges tuple, values, errors)}`` with flow bins stripped —
    subdirectory histograms included (keys are walked file-wide); for
    duplicate names the highest cycle wins."""
    r = RootTreeReader.__new__(RootTreeReader)
    r.path = path
    r._data = _map_file(path)
    data = r._data
    if data[:4] != b"root":
        raise RootFileError(f"{path}: not a ROOT file")
    version, fbegin = struct.unpack_from(">ii", data, 4)
    fend = struct.unpack_from(">q" if version > 1000000 else ">i", data, 12)[0]
    out, cycles = {}, {}
    off = fbegin
    while off < fend:
        k = _Key(data, off)
        if k.nbytes == 0:
            break
        if k.nbytes < 0:
            off += -k.nbytes
            continue
        if k.cls in _HIST_CLASSES and cycles.get(k.name, -1) < k.cycle:
            out[k.name] = _parse_hist(k.cls, r._payload_raw(k))
            cycles[k.name] = k.cycle
        off += k.nbytes
    return out


def convert_histo_root_file(path: str) -> dict:
    """Reference-shaped converter output
    (lookup_tools/root_converters.py:19-34): for each histogram,
    ``{(name, "dense_lookup"): (values, edges)}`` plus a
    ``(name + "_error", "dense_lookup")`` entry with sqrt(variances)."""
    out = {}
    for name, (edges, values, errors) in read_histograms(path).items():
        out[(name, "dense_lookup")] = (values, edges)
        out[(name + "_error", "dense_lookup")] = (errors, edges)
    return out


def read_nanoevents(spark, paths, tree: str | None = None, columns=None, spec=None):
    """read_root + NanoAOD collection zipping in one call: the Spark
    equivalent of ``NanoEventsFactory.from_root(...).events()``."""
    from coffea_spark.schema import NanoAODSchemaSpec

    df = read_root(spark, paths, tree=tree, columns=columns)
    return (spec or NanoAODSchemaSpec).apply(df)


def read_events(spark, paths, tree: str | None = None, columns=None):
    """Format- AND convention-agnostic events read: TTree or RNTuple on
    disk, any experiment naming convention (NanoAOD, PHYSLITE, Delphes,
    TreeMaker, EDM4HEP/FCC, ProtoDUNE) — the schema variant is detected
    from the branch names and the matching rewriter applied (the
    reference's per-format factory entry points + schemas/auto.py,
    collapsed into one call). The variant dispatch is
    :meth:`NanoEvents.from_variant`'s, NanoAOD event-id contract
    included."""
    from coffea_spark.nanoevents import NanoEvents

    df = read_root(spark, paths, tree=tree, columns=columns)
    return NanoEvents.from_variant(df).df
