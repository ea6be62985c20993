"""Load-bearing constants of the extraction semantics.

These pin the fixture behavior exactly the way the reference pins its
pipeline with inline constants:

- SEED_THRESH = 0.7311: binary-kernel threshold = sigmoid(1.0), the
  reference's score>=0.7311 test (ocrlib/src/main/cpp/jni/ocr.cpp:508 passes
  0.7311 into pse_decode; applied at ocr.cpp:281-285).
- MIN_TOKENS = 10: minimum region size, the reference's `size < 10` component
  drop (ocrlib/src/main/cpp/jni/ocr.cpp:191).
- MIN_MEAN_SCORE = 0.93: minimum mean region score, the reference's
  `score_sum/10000/size < 0.93` drop (ocrlib/src/main/cpp/jni/ocr.cpp:191,
  quantization at ocr.cpp:287).
- N_LEVELS = 6: the PSENet head emits 6 progressively shrunk kernel MAPS
  (psenet_lite_mbv2.param final Convolution `0=6`), each binarized at the
  SAME 0.7311 threshold (ocrlib/src/main/cpp/jni/ocr.cpp:281-285). The graft
  mirrors that exactly: 6 score maps per block (progressively stricter
  saturation constants LEVEL_C), one shared BINARY_THRESH. Level 0 is the
  seed map (smallest kernel); expansion walks maps 1..5
  (ocrlib/src/main/cpp/jni/ocr.cpp:302-328).
- The mean filter uses the FULL (loosest, level-5) score map, matching the
  reference's use of the last channel's scores for the mean test
  (ocr.cpp:287 quantizes ch-5 to int16; filter at ocr.cpp:191).
- LEVEL_C[k] = 8.0 * 4.0**((5-k)/5): half-saturation char count per level,
  geometric from 32 (strict seed: ~87 link-free chars to pass 0.7311) down
  to 8 (full map: ~22 chars). Graft-chosen constants — the reference's level
  geometry lives in net weights absent from the snapshot (SURVEY.md §0).
"""

from __future__ import annotations

BINARY_THRESH: float = 0.7311
MIN_TOKENS: int = 10
MIN_MEAN_SCORE: float = 0.93
N_LEVELS: int = 6

#: per-level half-saturation char counts, strict (seed) -> loose (full)
LEVEL_C: tuple[float, ...] = tuple(
    8.0 * 4.0 ** ((N_LEVELS - 1 - k) / (N_LEVELS - 1)) for k in range(N_LEVELS)
)

#: payload kinds emitted by the classifier (angle-class analog:
#: {0:hengdao,1:hengzhen,2:shudao,3:shuzhen} -> {html,pdf,ocr,plain},
#: plus the transposed-glyph ``vertical`` route and ``empty``)
KINDS: tuple[str, ...] = ("html", "pdf", "ocr", "plain", "vertical", "empty")

# --- B2 analog: bounded analysis size -------------------------------------
#: The reference bounds EVERY input before analysis (resize_img long-side
#: 640, ocrcvlib/src/main/cpp/jni/ocr.cpp:77-102, call with 640 at
#: ocrcvlib/src/main/cpp/jni/main.cpp:36). The graft's analog: payloads
#: longer than MAX_ANALYSIS_CHARS are analyzed in bounded windows and
#: stitched back by raw offset, so one pathological multi-GB turn can
#: never occupy a Python worker with an unbounded allocation. Like the
#: resize, windowing is lossy only at window boundaries (a block cut in
#: half is analyzed as two blocks); the cut prefers a newline to minimize
#: that.
MAX_ANALYSIS_CHARS: int = 1 << 20
#: how far back from a hard cut to search for a newline/space boundary
WINDOW_BOUNDARY_SEARCH: int = 4096

# --- PDF layout-parser geometry constants (D-family analog) ---------------
#: new text line when |y - line_y_mean| > LINE_Y_TOL * median glyph height
PDF_LINE_Y_TOL: float = 0.5
#: new word when x gap between consecutive glyphs > WORD_GAP * median width
PDF_WORD_GAP: float = 0.6
#: split a y-line into column segments when x gap > COL_GAP * median width
PDF_COL_GAP: float = 10.0
#: lines merge into one block when vertical gap <= BLOCK_Y_GAP * line height
PDF_BLOCK_Y_GAP: float = 1.8
#: and when their x-intervals overlap by >= this fraction of the smaller one
PDF_BLOCK_X_OVERLAP: float = 0.5
