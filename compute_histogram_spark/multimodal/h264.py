"""H.264/AVC sequence-parameter-set parsing — metadata only (the same
honest boundary as mp3.py/aac.py/ogg.py: SPS syntax is a short public
Exp-Golomb structure (ISO/IEC 14496-10 §7.3.2.1), while FRAME decode
needs the full CABAC/CAVLC + prediction machinery and is not done).

Gives the AUTHORITATIVE coded dimensions (tkhd carries the display size,
which differs under cropping/anamorphic), profile/level, chroma format,
bit depth and interlace flag — from either a raw SPS NAL or an ``avcC``
(AVCDecoderConfigurationRecord) box as found in MP4 ``stsd`` entries.
Handles emulation-prevention bytes and high-profile extras
(chroma/bit-depth fields, scaling lists). ``mp4.py`` surfaces this per
video track when the sample entry carries avcC.
"""

from __future__ import annotations

import struct

_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}

_PROFILE_NAMES = {
    66: "Baseline", 77: "Main", 88: "Extended", 100: "High",
    110: "High 10", 122: "High 4:2:2", 244: "High 4:4:4",
}

# chroma_format_idc -> (SubWidthC, SubHeightC); 0 = monochrome
_SUBSAMPLING = {1: (2, 2), 2: (2, 1), 3: (1, 1)}
_CHROMA_NAME = {0: "monochrome", 1: "4:2:0", 2: "4:2:2", 3: "4:4:4"}


def strip_emulation_prevention(data: bytes) -> bytes:
    """00 00 03 -> 00 00 (the 03 is an escape byte, not RBSP content)."""
    out = bytearray()
    zeros = 0
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        if zeros >= 2 and b == 3:
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("malformed SPS: out of bits")
            v = (v << 1) | ((self.data[byte] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("malformed SPS: Exp-Golomb overrun")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _skip_scaling_list(br: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + br.se() + 256) % 256
        if nxt != 0:
            last = nxt


def parse_sps(nal: bytes) -> dict:
    """Parse one SPS NAL (with or without its 1-byte NAL header) ->
    dict(profile, profile_idc, level, width, height, coded_width,
    coded_height, chroma_format, bit_depth_luma, bit_depth_chroma,
    interlaced)."""
    if not nal:
        raise ValueError("malformed SPS: empty NAL")
    data = nal
    # NAL header detection must require the FULL header pattern —
    # forbidden_zero_bit 0, any nal_ref_idc, type 7 — i.e. one of
    # 0x07/0x27/0x47/0x67. Testing only the low 5 bits misfires on a
    # HEADERLESS SPS whose profile_idc has low5 == 7 (e.g. 135 = 0x87,
    # High 4:4:4 Intra): no standard profile_idc collides with the four
    # header bytes, so this dispatch is unambiguous (ADVICE r9 h264.py:95).
    if data[0] in (0x07, 0x27, 0x47, 0x67):
        data = data[1:]
    br = _BitReader(strip_emulation_prevention(data))
    profile_idc = br.u(8)
    br.u(8)  # constraint flags + reserved
    level_idc = br.u(8)
    br.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    bit_depth_luma = bit_depth_chroma = 8
    separate_planes = 0
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = br.ue()
        if chroma_format_idc > 3:
            raise ValueError("malformed SPS: chroma_format_idc > 3")
        if chroma_format_idc == 3:
            separate_planes = br.u(1)
        bit_depth_luma = br.ue() + 8
        bit_depth_chroma = br.ue() + 8
        br.u(1)  # qpprime_y_zero_transform_bypass
        if br.u(1):  # seq_scaling_matrix_present
            n_lists = 8 if chroma_format_idc != 3 else 12
            for i in range(n_lists):
                if br.u(1):  # seq_scaling_list_present[i]
                    _skip_scaling_list(br, 16 if i < 6 else 64)
    br.ue()  # log2_max_frame_num_minus4
    poc_type = br.ue()
    if poc_type == 0:
        br.ue()  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        br.u(1)  # delta_pic_order_always_zero
        br.se()  # offset_for_non_ref_pic
        br.se()  # offset_for_top_to_bottom_field
        for _ in range(br.ue()):  # num_ref_frames_in_pic_order_cnt_cycle
            br.se()
    elif poc_type > 2:
        raise ValueError("malformed SPS: pic_order_cnt_type > 2")
    br.ue()  # max_num_ref_frames
    br.u(1)  # gaps_in_frame_num_value_allowed
    pic_width_in_mbs = br.ue() + 1
    pic_height_in_map_units = br.ue() + 1
    frame_mbs_only = br.u(1)
    if not frame_mbs_only:
        br.u(1)  # mb_adaptive_frame_field
    br.u(1)  # direct_8x8_inference
    coded_w = pic_width_in_mbs * 16
    coded_h = pic_height_in_map_units * 16 * (2 - frame_mbs_only)
    width, height = coded_w, coded_h
    if br.u(1):  # frame_cropping_flag
        left, right, top, bottom = br.ue(), br.ue(), br.ue(), br.ue()
        if chroma_format_idc == 0 or separate_planes:
            unit_x, unit_y = 1, 2 - frame_mbs_only
        else:
            sw, sh = _SUBSAMPLING[chroma_format_idc]
            unit_x, unit_y = sw, sh * (2 - frame_mbs_only)
        width = coded_w - (left + right) * unit_x
        height = coded_h - (top + bottom) * unit_y
        if width <= 0 or height <= 0:
            raise ValueError("malformed SPS: cropping exceeds coded size")
    return {
        "profile": _PROFILE_NAMES.get(profile_idc, str(profile_idc)),
        "profile_idc": profile_idc,
        "level": level_idc / 10.0,
        "width": width,
        "height": height,
        "coded_width": coded_w,
        "coded_height": coded_h,
        "chroma_format": _CHROMA_NAME[chroma_format_idc],
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
        "interlaced": not frame_mbs_only,
    }


def parse_avcc(avcc: bytes) -> dict:
    """AVCDecoderConfigurationRecord (the ``avcC`` box payload) -> the
    first SPS, parsed. Layout: version 1, profile, compat, level,
    lengthSizeMinusOne (2 low bits of byte 4), numSPS (5 low bits of
    byte 5), then length-prefixed SPS/PPS NALs."""
    if len(avcc) < 7 or avcc[0] != 1:
        raise ValueError("malformed avcC record")
    n_sps = avcc[5] & 0x1F
    if n_sps == 0:
        raise ValueError("malformed avcC: no SPS")
    pos = 6
    (sps_len,) = struct.unpack_from(">H", avcc, pos)
    pos += 2
    if pos + sps_len > len(avcc):
        raise ValueError("malformed avcC: truncated SPS")
    out = parse_sps(avcc[pos:pos + sps_len])
    out["nal_length_size"] = (avcc[4] & 3) + 1
    return out


# ------------------------------------------------------------- fixtures


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int) -> None:
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def bytes_aligned(self) -> bytes:
        bits = self.bits + [1]  # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            byte = 0
            for b in bits[i:i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
        return bytes(out)


def _insert_emulation_prevention(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def build_sps(
    profile_idc: int = 66,
    level_idc: int = 31,
    width: int = 640,
    height: int = 360,
    frame_mbs_only: bool = True,
    chroma_format_idc: int = 1,
    bit_depth: int = 8,
    nal_header: bool = True,
) -> bytes:
    """Encode a spec-valid SPS for the requested visible dimensions —
    mb-rounds the coded size and emits the matching crop. Round-trip
    fixture for :func:`parse_sps`."""
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(0, 8)
    w.u(level_idc, 8)
    w.ue(0)  # sps id
    if profile_idc in _HIGH_PROFILES:
        w.ue(chroma_format_idc)
        if chroma_format_idc == 3:
            w.u(0, 1)
        w.ue(bit_depth - 8)
        w.ue(bit_depth - 8)
        w.u(0, 1)
        w.u(0, 1)  # no scaling matrix
    w.ue(4)  # log2_max_frame_num_minus4
    w.ue(0)  # poc type 0
    w.ue(4)  # log2_max_poc_lsb_minus4
    w.ue(3)  # max_num_ref_frames
    w.u(0, 1)
    mb_w = (width + 15) // 16
    unit_h = 16 if frame_mbs_only else 32
    map_h = (height + unit_h - 1) // unit_h
    w.ue(mb_w - 1)
    w.ue(map_h - 1)
    w.u(1 if frame_mbs_only else 0, 1)
    if not frame_mbs_only:
        w.u(0, 1)
    w.u(1, 1)  # direct_8x8
    coded_w, coded_h = mb_w * 16, map_h * unit_h
    crop_w, crop_h = coded_w - width, coded_h - height
    if crop_w or crop_h:
        if chroma_format_idc == 0:
            ux, uy = 1, (1 if frame_mbs_only else 2)
        else:
            sw, sh = _SUBSAMPLING[chroma_format_idc]
            ux, uy = sw, sh * (1 if frame_mbs_only else 2)
        if crop_w % ux or crop_h % uy:
            raise ValueError("width/height not expressible with crop units")
        w.u(1, 1)
        w.ue(0)
        w.ue(crop_w // ux)
        w.ue(0)
        w.ue(crop_h // uy)
    else:
        w.u(0, 1)
    w.u(0, 1)  # vui_parameters_present
    rbsp = _insert_emulation_prevention(w.bytes_aligned())
    return (b"\x67" if nal_header else b"") + rbsp


def build_avcc(sps: bytes, nal_length_size: int = 4) -> bytes:
    info = parse_sps(sps)
    body = sps[1:] if sps[0] & 0x1F == 7 else sps
    sps_nal = b"\x67" + body
    pps = b"\x68\xce\x3c\x80"  # minimal spec-shaped PPS payload
    return (
        bytes((1, info["profile_idc"], 0, int(info["level"] * 10)))
        + bytes((0xFC | (nal_length_size - 1), 0xE1))
        + struct.pack(">H", len(sps_nal)) + sps_nal
        + b"\x01" + struct.pack(">H", len(pps)) + pps
    )
