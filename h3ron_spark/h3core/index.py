"""H3 index bit manipulation and FaceIJK <-> H3 conversions
(scalar reference implementation of the public algorithm).

Capability parity targets: h3ron/src/index.rs (accessors),
h3ron/src/cell.rs (hierarchy), libh3 h3Index.c/faceijk.c semantics.
"""

from __future__ import annotations

from h3ron_spark.h3core import derive
from h3ron_spark.h3core.constants import (
    BASE_CELL_DATA,
    BC_OFFSET,
    H3_INIT,
    INVALID_DIGIT,
    K_AXES_DIGIT,
    MAX_DIM_BY_CII_RES,
    MAX_H3_RES,
    MODE_CELL,
    MODE_OFFSET,
    NUM_BASE_CELLS,
    PENTAGON_BASE_CELLS,
    RES_OFFSET,
    UNIT_SCALE_BY_CII_RES,
)
from h3ron_spark.h3core.coords import (
    down_ap7,
    down_ap7r,
    geo_to_hex2d,
    hex2d_to_geo,
    hex2d_to_ijk,
    ijk_add,
    ijk_normalize,
    ijk_rotate60_ccw,
    ijk_rotate60_cw,
    ijk_scale,
    ijk_sub,
    ijk_to_digit,
    ijk_to_hex2d,
    neighbor_ijk,
    rotate_digit_ccw,
    rotate_digit_cw,
    up_ap7,
    up_ap7r,
)

_PENT_SET = set(PENTAGON_BASE_CELLS)

# ------------------------------------------------------------- bit ops


def get_resolution(h: int) -> int:
    return (h >> RES_OFFSET) & 15


def get_base_cell(h: int) -> int:
    return (h >> BC_OFFSET) & 127


def get_mode(h: int) -> int:
    return (h >> MODE_OFFSET) & 15


def get_digit(h: int, res: int) -> int:
    return (h >> (3 * (MAX_H3_RES - res))) & 7


def set_digit(h: int, res: int, digit: int) -> int:
    shift = 3 * (MAX_H3_RES - res)
    return (h & ~(7 << shift)) | (digit << shift)


def set_resolution(h: int, res: int) -> int:
    return (h & ~(15 << RES_OFFSET)) | (res << RES_OFFSET)


def set_base_cell(h: int, bc: int) -> int:
    return (h & ~(127 << BC_OFFSET)) | (bc << BC_OFFSET)


def init_cell(res: int) -> int:
    return H3_INIT | (MODE_CELL << MODE_OFFSET) | (res << RES_OFFSET)


def leading_nonzero_digit(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        d = get_digit(h, r)
        if d != 0:
            return d
    return 0


def is_pentagon(h: int) -> bool:
    return get_base_cell(h) in _PENT_SET and leading_nonzero_digit(h) == 0


def rotate60_ccw(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        h = set_digit(h, r, rotate_digit_ccw(get_digit(h, r)))
    return h


def rotate60_cw(h: int) -> int:
    for r in range(1, get_resolution(h) + 1):
        h = set_digit(h, r, rotate_digit_cw(get_digit(h, r)))
    return h


def rotate_pent60_ccw(h: int) -> int:
    """Rotate a pentagon-rooted index 60deg ccw, skipping the deleted
    K-axis subsequence."""
    found_first = False
    for r in range(1, get_resolution(h) + 1):
        h = set_digit(h, r, rotate_digit_ccw(get_digit(h, r)))
        if not found_first and get_digit(h, r) != 0:
            found_first = True
            if leading_nonzero_digit(h) == K_AXES_DIGIT:
                h = rotate60_ccw(h)
    return h


def is_valid_cell(h: int) -> bool:
    if h < 0 or (h >> 63) & 1:
        return False
    if get_mode(h) != MODE_CELL:
        return False
    if (h >> 56) & 7:
        return False
    bc = get_base_cell(h)
    if bc >= NUM_BASE_CELLS:
        return False
    res = get_resolution(h)
    found_first = False
    for r in range(1, MAX_H3_RES + 1):
        d = get_digit(h, r)
        if r <= res:
            if d == INVALID_DIGIT:
                return False
            if not found_first and d != 0:
                found_first = True
                if bc in _PENT_SET and d == K_AXES_DIGIT:
                    return False
        else:
            if d != INVALID_DIGIT:
                return False
    return True


# ------------------------------------------------- FaceIJK -> H3


def _base_cell_is_cw_offset(bc: int, face: int) -> bool:
    offs = BASE_CELL_DATA[bc][3]
    return offs[0] == face or offs[1] == face


def face_ijk_to_h3(face: int, coord: tuple[int, int, int], res: int) -> int:
    """Convert a (face, ijk, res) grid position to an H3 index.
    Returns 0 on out-of-range input (matches libh3's H3_NULL)."""
    if res == 0:
        if max(coord) > 2:
            return 0
        bc, _rot = derive.face_ijk_base_cell(face, coord)
        return set_base_cell(init_cell(0), bc)

    h = init_cell(res)
    ijk = coord
    for r in range(res, 0, -1):
        last_ijk = ijk
        if r % 2 == 1:  # Class III
            ijk = up_ap7(*ijk)
            last_center = down_ap7(*ijk)
        else:
            ijk = up_ap7r(*ijk)
            last_center = down_ap7r(*ijk)
        diff = ijk_sub(last_ijk, last_center)
        h = set_digit(h, r, ijk_to_digit(diff))

    if max(ijk) > 2:
        return 0
    bc, num_rots = derive.face_ijk_base_cell(face, ijk)
    h = set_base_cell(h, bc)

    if bc in _PENT_SET:
        if leading_nonzero_digit(h) == K_AXES_DIGIT:
            if _base_cell_is_cw_offset(bc, face):
                h = rotate60_cw(h)
            else:
                h = rotate60_ccw(h)
        for _ in range(num_rots):
            h = rotate_pent60_ccw(h)
    else:
        for _ in range(num_rots):
            h = rotate60_ccw(h)
    return h


def latlng_to_cell(lat: float, lng: float, res: int) -> int:
    face, x, y = geo_to_hex2d(lat, lng, res)
    ijk = hex2d_to_ijk(x, y)
    return face_ijk_to_h3(face, ijk, res)


# ------------------------------------------------- H3 -> FaceIJK

NO_OVERAGE = 0
FACE_EDGE = 1
NEW_FACE = 2


def adjust_overage_class_ii(
    face: int,
    coord: tuple[int, int, int],
    res: int,
    pent_leading_4: bool,
    substrate: bool,
):
    """If the (face, ijk) position overflows the face at Class II res,
    translate it onto the neighboring face's grid (public algorithm)."""
    overage = NO_OVERAGE
    max_dim = MAX_DIM_BY_CII_RES[res]
    if substrate:
        max_dim *= 3
    i, j, k = coord
    s = i + j + k
    if substrate and s == max_dim:
        overage = FACE_EDGE
    elif s > max_dim:
        overage = NEW_FACE
        if k > 0:
            if j > 0:
                fo = derive.face_neighbor(face, "jk")
            else:
                fo = derive.face_neighbor(face, "ki")
                if pent_leading_4:
                    # rotate about the pentagonal corner to skip the
                    # deleted k subsequence
                    origin = (max_dim, 0, 0)
                    tmp = (i - origin[0], j - origin[1], k - origin[2])
                    tmp = ijk_rotate60_cw(*tmp)
                    i, j, k = tmp[0] + origin[0], tmp[1] + origin[1], tmp[2] + origin[2]
        else:
            fo = derive.face_neighbor(face, "ij")
        face = fo.face
        for _ in range(fo.ccw_rot60):
            i, j, k = ijk_rotate60_ccw(i, j, k)
        scale = UNIT_SCALE_BY_CII_RES[res]
        if substrate:
            scale *= 3
        trans = ijk_scale(fo.translate, scale)
        i, j, k = ijk_normalize(*ijk_add((i, j, k), trans))
        if substrate and i + j + k == max_dim:
            overage = FACE_EDGE
    return overage, face, (i, j, k)


def _h3_to_face_ijk_with_initialized(h: int, face: int, coord):
    res = get_resolution(h)
    possible_overage = True
    if get_base_cell(h) not in _PENT_SET and (
        res == 0 or (coord[0] == 0 and coord[1] == 0 and coord[2] == 0)
    ):
        possible_overage = False
    ijk = coord
    for r in range(1, res + 1):
        if r % 2 == 1:
            ijk = down_ap7(*ijk)
        else:
            ijk = down_ap7r(*ijk)
        ijk = neighbor_ijk(ijk, get_digit(h, r))
    return possible_overage, face, ijk


def h3_to_face_ijk(h: int):
    """H3 index -> canonical (face, ijk) at the index's resolution."""
    bc = get_base_cell(h)
    if bc in _PENT_SET and leading_nonzero_digit(h) == 5:
        h = rotate60_cw(h)
    home_face, home_ijk, _pent, _offs = BASE_CELL_DATA[bc]
    possible, face, coord = _h3_to_face_ijk_with_initialized(h, home_face, home_ijk)
    if not possible:
        return face, coord

    orig = coord
    res = get_resolution(h)
    eff_res = res
    if res % 2 == 1:  # Class III: adjust on the Class II substrate
        coord = down_ap7r(*coord)
        eff_res = res + 1
    pent_leading_4 = bc in _PENT_SET and leading_nonzero_digit(h) == 4
    overage, face2, coord2 = adjust_overage_class_ii(
        face, coord, eff_res, pent_leading_4, False
    )
    if overage != NO_OVERAGE:
        if bc in _PENT_SET:
            while True:
                overage, face2, coord2 = adjust_overage_class_ii(
                    face2, coord2, eff_res, False, False
                )
                if overage == NO_OVERAGE:
                    break
        if eff_res != res:
            coord2 = up_ap7r(*coord2)
        return face2, coord2
    if eff_res != res:
        return face, orig
    return face, coord


def cell_to_latlng(h: int) -> tuple[float, float]:
    face, coord = h3_to_face_ijk(h)
    x, y = ijk_to_hex2d(*coord)
    return hex2d_to_geo(face, x, y, get_resolution(h))
