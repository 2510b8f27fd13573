"""Extraction configuration.

Mirrors the reference's tuning constants (``libpdf/parameters.py:26-228``)
as one immutable dataclass. In the reference these are module globals,
mutated by CLI/API (a concurrency hazard); here the config travels into
executors as part of the ``mapInPandas`` closure — pure broadcast state.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExtractConfig:
    # --- spatial tolerances (points; 72 pt = 1 inch) ---
    table_margin: float = 8.0           # parameters.py:26 TABLE_MARGIN
    chapter_rectangle_extend: float = 20.0  # parameters.py:70 CHAPTER_RECTANGLE_EXTEND
    min_outline_title_similarity: float = 0.6  # parameters.py:81 MIN_OUTLINE_TITLE_TEXTBOX_SIMILARITY
    anno_x_tolerance: float = 3.0       # parameters.py:85 ANNO_X_TOLERANCE
    anno_y_tolerance: float = 3.0       # parameters.py:86 ANNO_Y_TOLERANCE
    target_coor_tolerance: float = 65.0  # parameters.py:116 TARGET_COOR_TOLERANCE
    figure_min_height: float = 15.0     # parameters.py:120 FIGURE_MIN_HEIGHT
    figure_min_width: float = 15.0      # parameters.py:121 FIGURE_MIN_WIDTH
    cell_crop_offset: float = 5.0       # tables.py:248 (cell bbox expand)
    rect_crop_offset: float = 5.0       # extract.py:698-722 (rect text crop)
    table_figure_margin: float = 5.0    # tables.py:225 margin_offset

    # --- page crop margins (points; default off) — parameters.py:131-136 ---
    crop_top: float = 0.0
    crop_right: float = 0.0
    crop_bottom: float = 0.0
    crop_left: float = 0.0

    # --- smart header/footer detection — parameters.py:144-186 ---
    smart_crop_rel_top: float = 0.2     # SMART_PAGE_CROP_REL_MARGINS['top']
    smart_crop_rel_bottom: float = 0.2  # SMART_PAGE_CROP_REL_MARGINS['bottom']
    hf_occurrence_pct: float = 0.3      # HEADER_FOOTER_OCCURRENCE_PERCENTAGE
    hf_missing_pct: float = 0.15        # PAGES_MISSING_HEADER_OR_FOOTER_PERCENTAGE
    hf_continuous_pct: float = 0.8      # HEADER_OR_FOOTER_CONTINUOUS_PERCENTAGE
    hf_unique_pct: float = 0.05         # UNIQUE_HEADER_OR_FOOTER_ELEMENTS_PERCENTAGE
    smart_page_crop: bool = False       # core.py:33 (off by default, like the CLI flag)

    # --- pdfminer-style layout-analysis params — parameters.py:220-228 LA_PARAMS ---
    line_overlap: float = 0.5
    char_margin: float = 6.0
    line_margin: float = 0.4
    word_margin: float = 0.1

    # --- table grid (pdfplumber 'lines' strategy) — tables.py:62-79 ---
    snap_tolerance: float = 3.0
    join_tolerance: float = 3.0
    edge_min_length: float = 3.0

    # --- element-kind pruning — core.py:33-38 / extract.py:146-188 ---
    no_chapters: bool = False
    no_paragraphs: bool = False
    no_tables: bool = False
    no_figures: bool = False
    no_rects: bool = False
    no_annotations: bool = False

    # --- word/line tree retention (horizontal_box.py:50-147) ---
    # when on, every box-backed element carries its word/line tree with
    # uniform ncolor/fontname lift per level (test_word_colors surface);
    # off by default: the tree fattens the hot extraction path ~2×
    keep_words: bool = False

    # --- page-range pruning ("3-5,7") — core.py:536-553 ---
    pages: tuple = field(default=(), hash=False)  # empty = all pages

    # --- document password (pdfminer's single-password argument
    # behind reference extract.py:96; tried as user then owner) ---
    pdf_password: str = ""

    # --- Spark execution ---
    salt_buckets: int = 8               # salted repartition on conv_id (north_star)

    # chapter-number regex — catalog.py:206-218 (verbatim semantics)
    chapter_number_regex: str = (
        r"^(?!\.)((^|\.)(([iIvVxX]{1,8})|[a-zA-Z]|[0-9]+))+\.?(?=[ \t]+\S+)"
    )
    # standalone-number textbox regex — textbox.py:446-454
    standalone_number_regex: str = (
        r"^(?=\w)((^|\.)(([iIvVxX]{1,8})|[a-zA-Z]|[0-9]+))+\.?(?!.)"
    )


DEFAULT_CONFIG = ExtractConfig()
