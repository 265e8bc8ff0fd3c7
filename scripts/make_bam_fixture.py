#!/usr/bin/env python3
"""Generate a .bam fixture from a .sam text fixture, byte-by-byte per the
SAM/BAM spec v1.6 (https://samtools.github.io/hts-specs/SAMv1.pdf):
BGZF blocks (gzip members with the BC extra subfield) wrapping the binary
BAM payload. Written from the spec, independently of the Scala reader it
validates."""
import struct, sys, zlib

SEQ_CODES = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}

# B-array subtype -> struct format of one element (SAM spec 4.2.4)
ARRAY_FORMATS = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I",
                 "f": "f"}

def bgzf_block(payload: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    cdata = co.compress(payload) + co.flush()
    bsize = len(cdata) + 25  # total block size (18+clen+8) minus 1, per spec
    header = struct.pack("<BBBBIBBH", 0x1f, 0x8b, 8, 4, 0, 0, 0xff, 6)
    extra = struct.pack("<ccHH", b"B", b"C", 2, bsize)
    trailer = struct.pack("<II", zlib.crc32(payload) & 0xffffffff, len(payload))
    return header + extra + cdata + trailer

BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")

def reg2bin(beg, end):
    """SAM spec 5.3: the BAI bin of the 0-based half-open span [beg, end)."""
    end -= 1
    if beg >> 14 == end >> 14: return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17: return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20: return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23: return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26: return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0

def csi_reg2bin(beg, end, min_shift, depth):
    """CSI spec: the bin of [beg, end) for a (min_shift, depth) index."""
    end -= 1
    s, t = min_shift, ((1 << (depth * 3)) - 1) // 7
    for lvl in range(depth, 0, -1):
        if beg >> s == end >> s:
            return t + (beg >> s)
        s += 3
        t -= 1 << ((lvl - 1) * 3)
    return 0

def record_bin(pos0, flag, cigar_pairs, csi_depth):
    """The BAM record's bin field: an unmapped or zero-length record spans
    one base, so an unplaced one (pos -1) gets reg2bin(-1, 0) = 4680.
    Past 2^29 it is the CSI bin, cut to the field's 16 bits."""
    rlen = 0 if flag & 4 else sum(
        int(n) for n, op in cigar_pairs if op in "MDN=X")
    end = pos0 + max(1, rlen)
    if pos0 < 0:
        return reg2bin(-1, 0)
    if end <= 1 << 29:
        return reg2bin(pos0, end)
    return csi_reg2bin(pos0, end, 14, csi_depth) & 0xffff

def encode_record(fields, refs, csi_depth=5):
    qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual = fields[:11]
    tags = fields[11:]
    if seq == "*":
        seq = ""  # no sequence stored: l_seq 0, no seq or qual bytes
    ref_id = refs.index(rname) if rname in refs else -1
    if rnext == "*":
        next_ref_id = -1
    elif rnext == "=":
        next_ref_id = ref_id
    else:
        next_ref_id = refs.index(rnext) if rnext in refs else -1
    name = qname.encode() + b"\0"
    cigar_ops = b""
    n_cigar = 0
    cigar_pairs = []
    if cigar != "*":
        import re
        cigar_pairs = re.findall(r"(\d+)([MIDNSHP=X])", cigar)
        for num, op in cigar_pairs:
            cigar_ops += struct.pack("<I", (int(num) << 4) | "MIDNSHP=X".index(op))
            n_cigar += 1
    packed = bytearray()
    for i in range(0, len(seq), 2):
        hi = SEQ_CODES[seq[i]]
        lo = SEQ_CODES[seq[i + 1]] if i + 1 < len(seq) else 0
        packed.append((hi << 4) | lo)
    if qual == "*" or len(qual) != len(seq):
        qual_b = b"\xff" * len(seq)
    else:
        qual_b = bytes(ord(c) - 33 for c in qual)
    tag_bytes = b""
    for t in tags:
        tag, typ, val = t.split(":", 2)
        if typ == "i":
            # SAM text has one integer type; BAM stores the smallest type
            # that holds the value (htslib sam_parse1): signed for text
            # starting with '-', unsigned otherwise.
            v = int(val)
            if not -(1 << 31) <= v < (1 << 32):
                raise ValueError(f"integer tag out of range: {t}")
            if val.startswith("-"):
                code = "c" if v >= -(1 << 7) else "s" if v >= -(1 << 15) else "i"
            else:
                code = "C" if v < (1 << 8) else "S" if v < (1 << 16) else "I"
            tag_bytes += tag.encode() + code.encode() + struct.pack("<" + ARRAY_FORMATS[code], v)
        elif typ == "B":
            # numeric array (spec 4.2.4): subtype, int32 count, values
            sub, _, rest = val.partition(",")
            vals = [x for x in rest.split(",") if x != ""]
            fmt = ARRAY_FORMATS[sub]
            conv = float if sub == "f" else int
            tag_bytes += (tag.encode() + b"B" + sub.encode() +
                struct.pack("<i", len(vals)) +
                b"".join(struct.pack("<" + fmt, conv(x)) for x in vals))
        elif typ == "Z":
            tag_bytes += tag.encode() + b"Z" + val.encode() + b"\0"
        elif typ == "f":
            tag_bytes += tag.encode() + b"f" + struct.pack("<f", float(val))
        elif typ == "A":
            tag_bytes += tag.encode() + b"A" + val.encode()
        else:
            raise ValueError(f"unsupported tag type {typ}")
    body = struct.pack("<iiBBHHHiiii",
        ref_id, int(pos) - 1, len(name), int(mapq),
        record_bin(int(pos) - 1, int(flag), cigar_pairs, csi_depth), n_cigar, int(flag),
        len(seq), next_ref_id, int(pnext) - 1, int(tlen)) + name + cigar_ops + bytes(packed) + qual_b + tag_bytes
    return struct.pack("<i", len(body)) + body

def main(sam_path, bam_path):
    header_lines, records = [], []
    refs, ref_lens = [], []
    for line in open(sam_path):
        line = line.rstrip("\n")
        if not line:
            continue
        if line.startswith("@"):
            header_lines.append(line)
            if line.startswith("@SQ"):
                d = dict(f.split(":", 1) for f in line.split("\t")[1:])
                refs.append(d["SN"]); ref_lens.append(int(d["LN"]))
        else:
            records.append(line.split("\t"))
    text = ("\n".join(header_lines) + "\n").encode()
    payload = b"BAM\1" + struct.pack("<i", len(text)) + text
    payload += struct.pack("<i", len(refs))
    for name, ln in zip(refs, ref_lens):
        nb = name.encode() + b"\0"
        payload += struct.pack("<i", len(nb)) + nb + struct.pack("<i", ln)
    # the depth a CSI index of this dictionary would use (min_shift 14)
    csi_depth = 5
    while max(ref_lens, default=0) > 1 << (14 + 3 * csi_depth):
        csi_depth += 1
    for rec in records:
        payload += encode_record(rec, refs, csi_depth)
    with open(bam_path, "wb") as f:
        # split payload across blocks to exercise multi-block reading
        step = 200
        for i in range(0, len(payload), step):
            f.write(bgzf_block(payload[i:i + step]))
        f.write(BGZF_EOF)
    print(f"wrote {bam_path}: {len(records)} records, {len(refs)} refs")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
