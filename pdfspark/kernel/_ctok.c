/* _ctok — C fast path for the COS token scanner (cos.py parse_object).
 *
 * Semantic contract: byte-for-byte identical results to the pure-Python
 * scanner in pdfspark/kernel/cos.py (the authoritative implementation,
 * itself transcribed from the reference's parser/PDFParser.java:226-300
 * dispatch + cos/COSString.java / cos/COSName.java / cos/COSNumber.java
 * token rules). Differential parity is enforced by
 * tests/test_ctok_parity.py; any divergence is a bug in THIS file.
 *
 * The module is compiled on demand by pdfspark/kernel/ctok.py (gcc -O2,
 * cached .so keyed by source hash) and is strictly optional: import or
 * compile failure falls back to the pure-Python scanner, and
 * PDFSPARK_NO_CTOK=1 disables it outright. Python object construction
 * goes through the SAME class objects and interned-name cache that the
 * Python scanner uses (configured once via ctok_configure), so values
 * are indistinguishable downstream.
 */
#define _GNU_SOURCE /* memmem */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>
#include <stdlib.h>

/* class objects / singletons handed over by cos.py at import */
typedef struct {
    PyObject *CDict;
    PyObject *CString;
    PyObject *NameType;
    PyObject *Ref;
    PyObject *CStream;
    PyObject *cos_null;
    PyObject *name_cache;     /* cos._NAME_CACHE (shared interning) */
    PyObject *name_from_run;  /* cos._name_from_run (miss path)     */
    PyObject *eparse;         /* kernel.errors.EParseError          */
    PyObject *soft;           /* kernel.errors.soft (log-only)      */
    PyObject *length_name;    /* Name("Length") for salvage rewrite */
    /* interned constants for the fused interpreter (set at init) */
    PyObject *str_raw, *str_show_info, *str_fast_spec;
    PyObject *u_text, *u_media, *u_inline, *u_empty;
    /* interned key names for the page-tree walk */
    PyObject *u_Type, *u_Kids, *u_Contents, *u_Resources;
    PyObject *u_MediaBox, *u_CropBox, *u_Rotate;
    /* errors.MAX_SCAN_RANGE / errors.MAX_DEREF_DEPTH */
    long max_scan, max_deref;
    int configured;
} ctok_state_t;

static ctok_state_t S = {0};

static int
is_ws_c(unsigned char b)
{
    return b == 0x00 || b == 0x09 || b == 0x0A || b == 0x0C || b == 0x0D ||
           b == 0x20;
}

static int
is_delim_c(unsigned char b)
{
    return b == '(' || b == ')' || b == '<' || b == '>' || b == '[' ||
           b == ']' || b == '{' || b == '}' || b == '/' || b == '%';
}

static int
is_term_c(unsigned char b)
{
    return is_ws_c(b) || is_delim_c(b);
}

/* whitespace + %-comments between tokens (raw.skip_ws_and_comments) */
static void
skip_ws_comments(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t p = *pos;
    for (;;) {
        while (p < n && is_ws_c(d[p]))
            p++;
        if (p < n && d[p] == '%') {
            while (p < n && d[p] != '\r' && d[p] != '\n')
                p++;
            continue;
        }
        break;
    }
    *pos = p;
}

static void
err_at(const char *what, Py_ssize_t pos)
{
    PyErr_Format(S.eparse, "%s at %zd", what, pos);
}

/* /Name token → interned Name (shared cache; Python helper on miss) */
static PyObject *
name_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t p = *pos + 1, s;
    s = p;
    while (p < n && !is_term_c(d[p]))
        p++;
    {
        PyObject *run = PyBytes_FromStringAndSize((const char *)d + s, p - s);
        PyObject *nm;
        if (run == NULL)
            return NULL;
        nm = PyDict_GetItemWithError(S.name_cache, run); /* borrowed */
        if (nm != NULL) {
            Py_INCREF(nm);
            Py_DECREF(run);
            *pos = p;
            return nm;
        }
        if (PyErr_Occurred()) {
            Py_DECREF(run);
            return NULL;
        }
        nm = PyObject_CallFunctionObjArgs(S.name_from_run, run, NULL);
        Py_DECREF(run);
        if (nm == NULL)
            return NULL;
        *pos = p;
        return nm;
    }
}

/* One number token d[s:p] → int or float. An integer beyond the
 * signed 64-bit range is a malformed document (EParseError), as a real
 * beyond the double range is (PyOS_string_to_double): the kernel reads
 * integers as C long long / Py_ssize_t and converts them to double. */
static PyObject *
number_value_c(const unsigned char *d, Py_ssize_t s, Py_ssize_t p,
               int isfloat)
{
    char buf[64];
    char *heap = NULL, *dst = buf;
    Py_ssize_t len = p - s;
    PyObject *v;
    if (!isfloat && len <= 18) /* fits a long long incl. sign */
        return PyLong_FromLongLong(strtoll((const char *)d + s, NULL, 10));
    if (len >= (Py_ssize_t)sizeof(buf)) {
        heap = (char *)PyMem_Malloc(len + 1);
        if (heap == NULL)
            return PyErr_NoMemory();
        dst = heap;
    }
    memcpy(dst, d + s, len);
    dst[len] = 0;
    if (isfloat) {
        double dv = PyOS_string_to_double(dst, NULL, S.eparse);
        v = (dv == -1.0 && PyErr_Occurred()) ? NULL : PyFloat_FromDouble(dv);
    } else {
        v = PyLong_FromString(dst, NULL, 10);
        if (v != NULL) {
            int ovf;
            PyLong_AsLongLongAndOverflow(v, &ovf);
            if (ovf) {
                Py_DECREF(v);
                v = NULL;
                PyErr_Format(S.eparse, "integer out of range: '%.200s'", dst);
            }
        }
    }
    if (heap)
        PyMem_Free(heap);
    return v;
}

/* number with the terminator rule (cos._TOK_RE number alternative /
 * TestCOSNumber.java:152-274 semantics) */
static PyObject *
number_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t s = *pos, p = s;
    Py_ssize_t intd = 0, fracd = 0;
    int isfloat = 0;
    if (p < n && (d[p] == '+' || d[p] == '-'))
        p++;
    while (p < n && d[p] >= '0' && d[p] <= '9') {
        p++;
        intd++;
    }
    if (p < n && d[p] == '.' && intd > 0) {
        isfloat = 1;
        p++;
        while (p < n && d[p] >= '0' && d[p] <= '9') {
            p++;
            fracd++;
        }
    } else if (p < n && d[p] == '.' && intd == 0) {
        isfloat = 1;
        p++;
        while (p < n && d[p] >= '0' && d[p] <= '9') {
            p++;
            fracd++;
        }
        if (fracd == 0) {
            err_at("malformed number", s);
            return NULL;
        }
    }
    if (intd == 0 && fracd == 0) {
        err_at("malformed number", s);
        return NULL;
    }
    if (p < n && !is_term_c(d[p])) {
        err_at("malformed number (bad terminator)", s);
        return NULL;
    }
    *pos = p;
    return number_value_c(d, s, p, isfloat);
}

/* digit-led dispatch: speculative `id gen R` (T9 fast path, mirrors
 * cos._TOK_RE ref alternative: id 1-9 digits, gen 1-5 digits, ws+
 * separators, terminator after R), else plain number */
static PyObject *
num_or_ref_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t p = *pos;
    Py_ssize_t i = p, idlen, j, g, glen, k;
    while (i < n && d[i] >= '0' && d[i] <= '9')
        i++;
    idlen = i - p;
    if (idlen >= 1 && idlen <= 9 && i < n && is_ws_c(d[i])) {
        j = i;
        while (j < n && is_ws_c(d[j]))
            j++;
        g = j;
        while (j < n && d[j] >= '0' && d[j] <= '9')
            j++;
        glen = j - g;
        if (glen >= 1 && glen <= 5 && j < n && is_ws_c(d[j])) {
            k = j;
            while (k < n && is_ws_c(d[k]))
                k++;
            if (k < n && d[k] == 'R' &&
                (k + 1 >= n || is_term_c(d[k + 1]))) {
                long idv = strtol((const char *)d + p, NULL, 10);
                long genv = strtol((const char *)d + g, NULL, 10);
                *pos = k + 1;
                return PyObject_CallFunction(S.Ref, "ll", idv, genv);
            }
        }
    }
    return number_token(d, n, pos);
}

/* (literal string) — port of cos.parse_literal_string (T4;
 * cos/COSString.java:164-296 semantics pinned by test_cos_tokens) */
static PyObject *
literal_string_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t p = *pos + 1;
    Py_ssize_t cap = 64, len = 0;
    int depth = 1;
    unsigned char *out = (unsigned char *)PyMem_Malloc(cap);
    PyObject *raw, *res;
    if (out == NULL)
        return PyErr_NoMemory();
#define PUTC(c)                                                           \
    do {                                                                  \
        if (len >= cap) {                                                 \
            unsigned char *nb;                                            \
            cap *= 2;                                                     \
            nb = (unsigned char *)PyMem_Realloc(out, cap);                \
            if (nb == NULL) {                                             \
                PyMem_Free(out);                                          \
                return PyErr_NoMemory();                                  \
            }                                                             \
            out = nb;                                                     \
        }                                                                 \
        out[len++] = (unsigned char)(c);                                  \
    } while (0)
#define PUTS(src, cnt)                                                    \
    do {                                                                  \
        Py_ssize_t need = len + (cnt);                                    \
        if (need > cap) {                                                 \
            unsigned char *nb;                                            \
            while (cap < need)                                            \
                cap *= 2;                                                 \
            nb = (unsigned char *)PyMem_Realloc(out, cap);                \
            if (nb == NULL) {                                             \
                PyMem_Free(out);                                          \
                return PyErr_NoMemory();                                  \
            }                                                             \
            out = nb;                                                     \
        }                                                                 \
        memcpy(out + len, (src), (cnt));                                  \
        len += (cnt);                                                     \
    } while (0)
    while (p < n) {
        /* bulk-copy the run up to the next special byte (\ ( ) CR) */
        Py_ssize_t runstart = p;
        while (p < n && d[p] != 0x5C && d[p] != 0x28 && d[p] != 0x29 &&
               d[p] != 0x0D)
            p++;
        if (p > runstart)
            PUTS(d + runstart, p - runstart);
        if (p >= n)
            break;
        {
            unsigned char b = d[p];
            if (b == 0x5C) { /* backslash */
                unsigned char e;
                p++;
                if (p >= n)
                    break;
                e = d[p];
                switch (e) {
                case 'n': PUTC(0x0A); p++; break;
                case 'r': PUTC(0x0D); p++; break;
                case 't': PUTC(0x09); p++; break;
                case 'b': PUTC(0x08); p++; break;
                case 'f': PUTC(0x0C); p++; break;
                case '(': PUTC(0x28); p++; break;
                case ')': PUTC(0x29); p++; break;
                case 0x5C: PUTC(0x5C); p++; break;
                default:
                    if (e >= '0' && e <= '7') { /* octal, 1-3 digits */
                        int val = e - '0', it;
                        p++;
                        for (it = 0; it < 2; it++) {
                            if (p < n && d[p] >= '0' && d[p] <= '7') {
                                val = (val << 3) | (d[p] - '0');
                                p++;
                            } else
                                break;
                        }
                        PUTC(val & 0xFF);
                    } else if (e == 0x0D) { /* \<CR>[LF] continuation */
                        p++;
                        if (p < n && d[p] == 0x0A)
                            p++;
                    } else if (e == 0x0A) { /* \<LF> continuation */
                        p++;
                    } else { /* unknown escape: drop backslash */
                        PUTC(e);
                        p++;
                    }
                }
            } else if (b == 0x28) {
                depth++;
                PUTC(b);
                p++;
            } else if (b == 0x29) {
                depth--;
                if (depth == 0) {
                    p++;
                    *pos = p;
                    raw = PyBytes_FromStringAndSize((const char *)out, len);
                    PyMem_Free(out);
                    if (raw == NULL)
                        return NULL;
                    res = PyObject_CallFunctionObjArgs(S.CString, raw, NULL);
                    Py_DECREF(raw);
                    return res;
                }
                PUTC(b);
                p++;
            } else { /* bare CR → LF */
                PUTC(0x0A);
                p++;
                if (p < n && d[p] == 0x0A)
                    p++;
            }
        }
    }
    PyMem_Free(out);
    PyErr_SetString(S.eparse, "unterminated literal string");
    return NULL;
#undef PUTC
#undef PUTS
}

static int
hexval(unsigned char b)
{
    if (b >= '0' && b <= '9')
        return b - '0';
    if (b >= 'a' && b <= 'f')
        return b - 'a' + 10;
    if (b >= 'A' && b <= 'F')
        return b - 'A' + 10;
    return -1;
}

/* <hex string> — port of cos.parse_hex_string (T5) */
static PyObject *
hex_string_token(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos)
{
    Py_ssize_t p = *pos + 1;
    Py_ssize_t cap = 32, len = 0;
    int hi = -1;
    unsigned char *out = (unsigned char *)PyMem_Malloc(cap);
    if (out == NULL)
        return PyErr_NoMemory();
    while (p < n) {
        unsigned char b = d[p];
        if (b == '>') {
            PyObject *raw, *res;
            p++;
            if (hi >= 0) {
                if (len >= cap) {
                    unsigned char *nb =
                        (unsigned char *)PyMem_Realloc(out, cap * 2);
                    if (nb == NULL) {
                        PyMem_Free(out);
                        return PyErr_NoMemory();
                    }
                    out = nb;
                }
                out[len++] = (unsigned char)(hi << 4);
            }
            *pos = p;
            raw = PyBytes_FromStringAndSize((const char *)out, len);
            PyMem_Free(out);
            if (raw == NULL)
                return NULL;
            res = PyObject_CallFunctionObjArgs(S.CString, raw, Py_True, NULL);
            Py_DECREF(raw);
            return res;
        }
        if (is_ws_c(b)) {
            p++;
            continue;
        }
        {
            int v = hexval(b);
            if (v < 0) {
                PyMem_Free(out);
                PyErr_Format(S.eparse, "invalid hex digit 0x%x at %zd",
                             (int)b, p);
                return NULL;
            }
            if (hi < 0)
                hi = v;
            else {
                if (len >= cap) {
                    unsigned char *nb =
                        (unsigned char *)PyMem_Realloc(out, cap * 2);
                    if (nb == NULL) {
                        PyMem_Free(out);
                        return PyErr_NoMemory();
                    }
                    out = nb;
                    cap *= 2;
                }
                out[len++] = (unsigned char)((hi << 4) | v);
                hi = -1;
            }
        }
        p++;
    }
    PyMem_Free(out);
    PyErr_SetString(S.eparse, "unterminated hex string");
    return NULL;
}

/* a failed soft assert: errors.soft(tier, msg), a log-only diagnostic */
static int
soft_event(const char *tier, const char *msg)
{
    PyObject *r = PyObject_CallFunction(S.soft, "ss", tier, msg);
    if (r == NULL)
        return -1;
    Py_DECREF(r);
    return 0;
}

/* T8 stream follow-up after '>>' — port of cos._stream_followup.
 * Returns a NEW reference: the CStream, or the dict itself (incref'd)
 * when no stream keyword follows. NULL on error. */
static PyObject *
stream_followup(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos,
                PyObject *dict, PyObject *resolver, int allow_recon)
{
    Py_ssize_t save = *pos, p = *pos;
    PyObject *length, *body = NULL, *res;
    while (p < n && is_ws_c(d[p])) /* plain ws only, no comments */
        p++;
    if (!(p + 6 <= n && memcmp(d + p, "stream", 6) == 0)) {
        *pos = save;
        Py_INCREF(dict);
        return dict;
    }
    p += 6;
    /* skip_crlf_or_lf (B3): lone CR is a syntax-compliance event */
    if (p < n && d[p] == 0x0D) {
        p++;
        if (p < n && d[p] == 0x0A)
            p++;
        else if (soft_event("syntax", "lone CR after 'stream' keyword") < 0)
            return NULL;
    } else if (p < n && d[p] == 0x0A)
        p++;

    length = PyDict_GetItemString(dict, "Length"); /* borrowed */
    if (length == NULL)
        length = S.cos_null;
    {
        int isref = PyObject_IsInstance(length, S.Ref);
        if (isref < 0)
            return NULL;
        if (isref) {
        if (resolver == Py_None) {
            PyErr_SetString(S.eparse,
                            "/Length is indirect but no resolver available");
            return NULL;
        }
        length = PyObject_CallFunctionObjArgs(resolver, length, NULL);
        if (length == NULL)
            return NULL;
        } else
            Py_INCREF(length);
    }

    if (!PyLong_CheckExact(length)) { /* bool is PyLong subclass → excluded */
        Py_DECREF(length);
        if (allow_recon) {
            /* §C.2 salvage: everything up to `endstream`, minus EOL */
            const unsigned char *hit = (const unsigned char *)memmem(
                d + p, n - p, "endstream", 9);
            Py_ssize_t end, blen;
            if (hit == NULL) {
                PyErr_SetString(S.eparse,
                                "stream /Length missing and no endstream");
                return NULL;
            }
            end = hit - d;
            blen = end - p;
            if (blen >= 2 && d[end - 2] == 0x0D && d[end - 1] == 0x0A)
                blen -= 2;
            else if (blen >= 1 && (d[end - 1] == 0x0A || d[end - 1] == 0x0D))
                blen -= 1;
            *pos = end + 9;
            body = PyBytes_FromStringAndSize((const char *)d + p, blen);
            if (body == NULL)
                return NULL;
            {
                PyObject *blen_obj = PyLong_FromSsize_t(blen);
                if (blen_obj == NULL ||
                    PyDict_SetItem(dict, S.length_name, blen_obj) < 0) {
                    Py_XDECREF(blen_obj);
                    Py_DECREF(body);
                    return NULL;
                }
                Py_DECREF(blen_obj);
            }
            res = PyObject_CallFunctionObjArgs(S.CStream, dict, body, NULL);
            Py_DECREF(body);
            return res;
        }
        PyErr_SetString(S.eparse, "stream /Length missing or non-integer");
        return NULL;
    }
    {
        long long lv = PyLong_AsLongLong(length);
        Py_DECREF(length);
        if (lv == -1 && PyErr_Occurred())
            return NULL;
        if (lv < 0 || lv > n - p) {
            PyErr_SetString(S.eparse, "stream body beyond end of data");
            return NULL;
        }
        body = PyBytes_FromStringAndSize((const char *)d + p, (Py_ssize_t)lv);
        if (body == NULL)
            return NULL;
        p += (Py_ssize_t)lv;
        /* bounded forward scan for endstream (B9) */
        {
            Py_ssize_t lim = p + S.max_scan + 9;
            Py_ssize_t avail;
            const unsigned char *hit;
            if (lim > n)
                lim = n;
            avail = lim - p;
            hit = avail > 0 ? (const unsigned char *)memmem(d + p, avail,
                                                            "endstream", 9)
                            : NULL;
            if (hit == NULL) {
                if (soft_event("structure",
                               "endstream not found within scan range") < 0) {
                    Py_DECREF(body);
                    return NULL;
                }
            } else
                p = (hit - d) + 9;
        }
        *pos = p;
        res = PyObject_CallFunctionObjArgs(S.CStream, dict, body, NULL);
        Py_DECREF(body);
        return res;
    }
}

/* container stack */
typedef struct {
    PyObject *cont; /* borrowed while on stack? NO — owned */
    PyObject *key;  /* owned or NULL */
} frame_t;

/* main scanner: one COS value from pos; mirrors cos.parse_object */
static PyObject *
parse_value(const unsigned char *d, Py_ssize_t n, Py_ssize_t *pos_io,
            PyObject *resolver, int allow_recon)
{
    Py_ssize_t pos = *pos_io;
    frame_t *stack = NULL;
    Py_ssize_t depth = 0, cap = 0;
    PyObject *cur = NULL; /* owned */
    PyObject *key = NULL; /* owned */
    int want_key = 0;
    PyObject *v = NULL;

#define FAIL()                                                            \
    do {                                                                  \
        goto fail;                                                        \
    } while (0)

    for (;;) {
        unsigned char b;
        skip_ws_comments(d, n, &pos);
        if (pos >= n) {
            if (want_key || (cur != NULL && PyDict_Check(cur)))
                PyErr_SetString(S.eparse, "EOF inside dictionary");
            else if (cur != NULL)
                PyErr_SetString(S.eparse, "EOF inside array");
            else
                PyErr_SetString(S.eparse, "unexpected EOF at value position");
            FAIL();
        }
        b = d[pos];
        if (want_key) {
            if (b == '/') {
                key = name_token(d, n, &pos);
                if (key == NULL)
                    FAIL();
                want_key = 0;
                continue;
            }
            if (b == '>' && pos + 1 < n && d[pos + 1] == '>') {
                pos += 2;
                v = stream_followup(d, n, &pos, cur, resolver, allow_recon);
                if (v == NULL)
                    FAIL();
                Py_DECREF(cur); /* ownership moved into v (or v==cur+1ref) */
                cur = NULL;
                if (depth == 0)
                    goto done;
                depth--;
                cur = stack[depth].cont;
                key = stack[depth].key;
                goto attach;
            }
            err_at("name expected", pos);
            FAIL();
        }
        /* value position */
        if (b >= '0' && b <= '9') {
            v = num_or_ref_token(d, n, &pos);
            if (v == NULL)
                FAIL();
        } else if (b == '/') {
            v = name_token(d, n, &pos);
            if (v == NULL)
                FAIL();
        } else if (b == '<') {
            if (pos + 1 < n && d[pos + 1] == '<') {
                /* push dict */
                if (depth == cap) {
                    Py_ssize_t ncap = cap ? cap * 2 : 16;
                    frame_t *ns = (frame_t *)PyMem_Realloc(
                        stack, ncap * sizeof(frame_t));
                    if (ns == NULL) {
                        PyErr_NoMemory();
                        FAIL();
                    }
                    stack = ns;
                    cap = ncap;
                }
                stack[depth].cont = cur;
                stack[depth].key = key;
                depth++;
                cur = PyObject_CallObject(S.CDict, NULL);
                key = NULL;
                if (cur == NULL) {
                    depth--; /* restore frame ownership */
                    cur = stack[depth].cont;
                    key = stack[depth].key;
                    FAIL();
                }
                want_key = 1;
                pos += 2;
                continue;
            }
            v = hex_string_token(d, n, &pos);
            if (v == NULL)
                FAIL();
        } else if (b == '[') {
            if (depth == cap) {
                Py_ssize_t ncap = cap ? cap * 2 : 16;
                frame_t *ns =
                    (frame_t *)PyMem_Realloc(stack, ncap * sizeof(frame_t));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    FAIL();
                }
                stack = ns;
                cap = ncap;
            }
            stack[depth].cont = cur;
            stack[depth].key = key;
            depth++;
            cur = PyList_New(0);
            key = NULL;
            if (cur == NULL) {
                depth--;
                cur = stack[depth].cont;
                key = stack[depth].key;
                FAIL();
            }
            pos += 1;
            continue;
        } else if (b == ']') {
            if (cur == NULL || !PyList_Check(cur)) {
                err_at("unknown token b']'", pos);
                FAIL();
            }
            pos += 1;
            v = cur;
            if (depth == 0) {
                cur = NULL;
                goto done;
            }
            depth--;
            cur = stack[depth].cont;
            key = stack[depth].key;
        } else if (b == '(') {
            v = literal_string_token(d, n, &pos);
            if (v == NULL)
                FAIL();
        } else if (b == 't') {
            if (pos + 4 <= n && memcmp(d + pos, "true", 4) == 0) {
                pos += 4;
                v = Py_True;
                Py_INCREF(v);
            } else {
                err_at("bad token", pos);
                FAIL();
            }
        } else if (b == 'f') {
            if (pos + 5 <= n && memcmp(d + pos, "false", 5) == 0) {
                pos += 5;
                v = Py_False;
                Py_INCREF(v);
            } else {
                err_at("bad token", pos);
                FAIL();
            }
        } else if (b == 'n') {
            if (pos + 4 <= n && memcmp(d + pos, "null", 4) == 0) {
                pos += 4;
                v = S.cos_null;
                Py_INCREF(v);
            } else {
                err_at("bad token", pos);
                FAIL();
            }
        } else if (b == '+' || b == '-' || b == '.') {
            v = number_token(d, n, &pos);
            if (v == NULL)
                FAIL();
        } else {
            PyErr_Format(S.eparse, "unknown token %c at %zd",
                         (b >= 0x20 && b < 0x7F) ? b : '?', pos);
            FAIL();
        }

    attach:
        /* one value completed — attach to parent or return */
        if (cur == NULL)
            goto done;
        if (PyDict_Check(cur)) {
            int rc = PyDict_SetItem(cur, key, v);
            Py_DECREF(key);
            key = NULL;
            Py_DECREF(v);
            v = NULL;
            if (rc < 0)
                FAIL();
            want_key = 1;
        } else {
            int rc = PyList_Append(cur, v);
            Py_DECREF(v);
            v = NULL;
            if (rc < 0)
                FAIL();
            want_key = 0;
        }
    }

done:
    if (stack)
        PyMem_Free(stack);
    *pos_io = pos;
    return v;

fail:
    Py_XDECREF(v);
    Py_XDECREF(key);
    Py_XDECREF(cur);
    while (depth > 0) {
        depth--;
        Py_XDECREF(stack[depth].cont);
        Py_XDECREF(stack[depth].key);
    }
    if (stack)
        PyMem_Free(stack);
    return NULL;
}

/* ---- content-stream lexer (textops._lex_content_py twin) ----------
 * Yields the SAME (operator_bytes, operands_tuple) event stream the
 * pure-Python generator produces (differential parity in
 * tests/test_ctok_parity.py): PERMISSIVE stray handling, inline TJ
 * arrays, '('/'<' through the generic value parser, BI..EI skipped at
 * the lexer. Soft parse events (lone CR, endstream scan) go to
 * errors.soft, as on the Python path. Returns a list, eagerly
 * lexed: an EParseError mid-stream aborts the document either way. */

static int
is_regular_c(unsigned char b)
{
    return !is_ws_c(b) && !is_delim_c(b);
}

/* BI..EI inline-image skip: binary image data may contain the bytes
 * 'EI' — only an EI that is ws-preceded and ws/delim/EOF-followed
 * terminates the image (textops._lex_content_py twin, r4). */
static Py_ssize_t
find_inline_ei(const unsigned char *d, Py_ssize_t n, Py_ssize_t pos)
{
    while (pos < n) {
        const unsigned char *hit =
            (const unsigned char *)memmem(d + pos, n - pos, "EI", 2);
        Py_ssize_t i;
        if (hit == NULL)
            return n;
        i = hit - d;
        if ((i == 0 || is_ws_c(d[i - 1])) &&
            (i + 2 >= n || is_ws_c(d[i + 2]) || is_delim_c(d[i + 2])))
            return i + 2;
        pos = i + 1;
    }
    return n;
}

static PyObject *
ctok_lex_content(PyObject *self, PyObject *args)
{
    PyObject *data;
    const unsigned char *d;
    Py_ssize_t n, pos = 0;
    PyObject *out = NULL, *operands = NULL;
    PyObject **astack = NULL;
    Py_ssize_t adep = 0, acap = 0;

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "S", &data))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);
    out = PyList_New(0);
    operands = PyList_New(0);
    if (out == NULL || operands == NULL)
        goto fail;

#define CLEAR_OPERANDS()                                                  \
    do {                                                                  \
        if (PyList_GET_SIZE(operands)) {                                  \
            PyObject *no = PyList_New(0);                                 \
            if (no == NULL)                                               \
                goto fail;                                                \
            Py_DECREF(operands);                                          \
            operands = no;                                                \
        }                                                                 \
    } while (0)

    while (pos < n) {
        unsigned char b;
        skip_ws_comments(d, n, &pos);
        if (pos >= n)
            break;
        b = d[pos];
        if ((b >= '0' && b <= '9') || b == '+' || b == '-' || b == '.') {
            /* number with the content terminator rule (regular byte
             * after the token → the whole token is a stray byte) */
            Py_ssize_t s = pos, p = pos;
            Py_ssize_t intd = 0, fracd = 0;
            int bad = 0;
            if (d[p] == '+' || d[p] == '-')
                p++;
            while (p < n && d[p] >= '0' && d[p] <= '9') {
                p++;
                intd++;
            }
            if (p < n && d[p] == '.') {
                p++;
                while (p < n && d[p] >= '0' && d[p] <= '9') {
                    p++;
                    fracd++;
                }
            }
            if (intd == 0 && fracd == 0)
                bad = 1;
            else if (p < n && is_regular_c(d[p]))
                bad = 1;
            if (bad) { /* stray: consume ONE byte, clear operands */
                pos = s + 1;
                CLEAR_OPERANDS();
                continue;
            }
            {
                PyObject *v;
                int isfloat = 0;
                Py_ssize_t q;
                for (q = s; q < p; q++)
                    if (d[q] == '.') {
                        isfloat = 1;
                        break;
                    }
                v = number_value_c(d, s, p, isfloat);
                if (v == NULL)
                    goto fail;
                if (PyList_Append(operands, v) < 0) {
                    Py_DECREF(v);
                    goto fail;
                }
                Py_DECREF(v);
                pos = p;
            }
        } else if (b == '/') {
            PyObject *nm = name_token(d, n, &pos);
            if (nm == NULL)
                goto fail;
            if (PyList_Append(operands, nm) < 0) {
                Py_DECREF(nm);
                goto fail;
            }
            Py_DECREF(nm);
        } else if (b == '[') {
            if (adep == acap) {
                Py_ssize_t ncap = acap ? acap * 2 : 8;
                PyObject **ns = (PyObject **)PyMem_Realloc(
                    astack, ncap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                astack = ns;
                acap = ncap;
            }
            astack[adep++] = operands;
            operands = PyList_New(0);
            if (operands == NULL) {
                operands = astack[--adep]; /* restore ownership */
                goto fail;
            }
            pos++;
        } else if (b == ']') {
            if (adep > 0) {
                PyObject *finished = operands;
                operands = astack[--adep];
                if (PyList_Append(operands, finished) < 0) {
                    Py_DECREF(finished);
                    goto fail;
                }
                Py_DECREF(finished);
            } else
                CLEAR_OPERANDS(); /* stray */
            pos++;
        } else if (b == '(' || b == '<') {
            PyObject *v = (b == '(')
                              ? literal_string_token(d, n, &pos)
                              : ((pos + 1 < n && d[pos + 1] == '<')
                                     ? parse_value(d, n, &pos, Py_None, 0)
                                     : hex_string_token(d, n, &pos));
            if (v == NULL)
                goto fail;
            if (PyList_Append(operands, v) < 0) {
                Py_DECREF(v);
                goto fail;
            }
            Py_DECREF(v);
        } else if (is_regular_c(b)) {
            /* operator keyword run */
            Py_ssize_t s = pos;
            PyObject *opb, *tup, *ev;
            while (pos < n && is_regular_c(d[pos]))
                pos++;
            opb = PyBytes_FromStringAndSize((const char *)d + s, pos - s);
            if (opb == NULL)
                goto fail;
            if (pos - s == 2 && d[s] == 'B' && d[s + 1] == 'I') {
                /* inline image: skip to the DELIMITED EI */
                pos = find_inline_ei(d, n, pos);
            }
            tup = PyList_AsTuple(operands);
            if (tup == NULL) {
                Py_DECREF(opb);
                goto fail;
            }
            ev = PyTuple_Pack(2, opb, tup);
            Py_DECREF(opb);
            Py_DECREF(tup);
            if (ev == NULL)
                goto fail;
            if (PyList_Append(out, ev) < 0) {
                Py_DECREF(ev);
                goto fail;
            }
            Py_DECREF(ev);
            CLEAR_OPERANDS();
        } else {
            /* stray ) > { } or junk byte: consume one, clear */
            pos++;
            CLEAR_OPERANDS();
        }
    }
#undef CLEAR_OPERANDS
    Py_DECREF(operands);
    while (adep > 0)
        Py_DECREF(astack[--adep]);
    if (astack)
        PyMem_Free(astack);
    return out;

fail:
    Py_XDECREF(out);
    Py_XDECREF(operands);
    while (adep > 0)
        Py_DECREF(astack[--adep]);
    if (astack)
        PyMem_Free(astack);
    return NULL;
}

/* ---- embedded-CMap code tokenizer (EmbeddedCMap.codes_w twin) ------
 * Byte-wise code-space interval match per the CMap spec; an unmatched
 * byte is consumed alone (permissive). Ranges arrive as the Python
 * side's list[(width:int, lo:bytes, hi:bytes)] — already validated at
 * parse time (0 < len(lo) == len(hi) <= 4). */
static PyObject *
ctok_cmap_codes_w(PyObject *self, PyObject *args)
{
    PyObject *data, *ranges;
    const unsigned char *d;
    Py_ssize_t n, nr, i;
    struct { Py_ssize_t w; const unsigned char *lo, *hi; } rs[16];
    PyObject *out;

    (void)self;
    if (!PyArg_ParseTuple(args, "SO!", &data, &PyList_Type, &ranges))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);
    nr = PyList_GET_SIZE(ranges);
    if (nr > 16)
        nr = 16; /* spec-realistic CMaps have <10 code spaces */
    for (i = 0; i < nr; i++) {
        PyObject *t = PyList_GET_ITEM(ranges, i);
        PyObject *wv, *lo, *hi;
        if (!PyTuple_Check(t) || PyTuple_GET_SIZE(t) != 3) {
            PyErr_SetString(PyExc_TypeError, "bad cmap range tuple");
            return NULL;
        }
        wv = PyTuple_GET_ITEM(t, 0);
        lo = PyTuple_GET_ITEM(t, 1);
        hi = PyTuple_GET_ITEM(t, 2);
        if (!PyLong_CheckExact(wv) || !PyBytes_CheckExact(lo) ||
            !PyBytes_CheckExact(hi)) {
            PyErr_SetString(PyExc_TypeError, "bad cmap range types");
            return NULL;
        }
        rs[i].w = PyLong_AsSsize_t(wv);
        rs[i].lo = (const unsigned char *)PyBytes_AS_STRING(lo);
        rs[i].hi = (const unsigned char *)PyBytes_AS_STRING(hi);
        if (rs[i].w <= 0 || rs[i].w > 8 ||
            PyBytes_GET_SIZE(lo) != rs[i].w ||
            PyBytes_GET_SIZE(hi) != rs[i].w) {
            PyErr_SetString(PyExc_ValueError, "bad cmap range width");
            return NULL;
        }
    }
    out = PyList_New(0);
    if (out == NULL)
        return NULL;
    i = 0;
    while (i < n) {
        unsigned long long code = 0;
        Py_ssize_t width = 0, r, k;
        for (r = 0; r < nr; r++) {
            Py_ssize_t w = rs[r].w;
            int ok;
            if (i + w > n)
                continue;
            ok = 1;
            for (k = 0; k < w; k++) {
                unsigned char b = d[i + k];
                if (b < rs[r].lo[k] || b > rs[r].hi[k]) {
                    ok = 0;
                    break;
                }
            }
            if (ok) {
                code = 0;
                for (k = 0; k < w; k++)
                    code = (code << 8) | d[i + k];
                width = w;
                break;
            }
        }
        if (width == 0) {
            code = d[i];
            width = 1;
        }
        {
            PyObject *tup = Py_BuildValue("(Kn)", code, width);
            if (tup == NULL || PyList_Append(out, tup) < 0) {
                Py_XDECREF(tup);
                Py_DECREF(out);
                return NULL;
            }
            Py_DECREF(tup);
        }
        i += width;
    }
    return out;
}

/* ---- COS serializer (cos.produce twin) -----------------------------
 * Byte-identical emission to the Python accumulator implementation:
 * exact-class dispatch, one growing C buffer. Names route through the
 * shared Python produce-name cache (escaping + interning live there);
 * floats use PyOS_double_to_string('f', 6) — the same dtoa CPython's
 * format() uses — then the same strip-trailing-zeros rule. */

typedef struct {
    unsigned char *buf;
    Py_ssize_t len, cap;
} pbuf_t;

static int
pbuf_reserve(pbuf_t *b, Py_ssize_t extra)
{
    if (b->len + extra > b->cap) {
        Py_ssize_t ncap = b->cap ? b->cap * 2 : 256;
        unsigned char *nb;
        while (ncap < b->len + extra)
            ncap *= 2;
        nb = (unsigned char *)PyMem_Realloc(b->buf, ncap);
        if (nb == NULL) {
            PyErr_NoMemory();
            return -1;
        }
        b->buf = nb;
        b->cap = ncap;
    }
    return 0;
}

static int
pbuf_put(pbuf_t *b, const void *src, Py_ssize_t n)
{
    if (pbuf_reserve(b, n) < 0)
        return -1;
    memcpy(b->buf + b->len, src, n);
    b->len += n;
    return 0;
}

/* name emission: the shared Python produce-name cache consulted
 * C-side first (PyDict_GetItem, no call overhead); misses route
 * through name_fn, which escapes AND populates that same cache. */
static int
emit_name_c(PyObject *key, pbuf_t *b, PyObject *name_fn,
            PyObject *name_cache)
{
    PyObject *nb;
    int rc;

    if (name_cache != NULL) {
        PyObject *hit = PyDict_GetItemWithError(name_cache, key);
        if (hit != NULL && PyBytes_CheckExact(hit))
            return pbuf_put(b, PyBytes_AS_STRING(hit),
                            PyBytes_GET_SIZE(hit));
        if (PyErr_Occurred())
            return -1;
    }
    nb = PyObject_CallFunctionObjArgs(name_fn, key, NULL);
    if (nb == NULL)
        return -1;
    if (!PyBytes_Check(nb)) { /* arbitrary callable: never trust it */
        Py_DECREF(nb);
        PyErr_SetString(PyExc_TypeError,
                        "produce name_fn must return bytes");
        return -1;
    }
    rc = pbuf_put(b, PyBytes_AS_STRING(nb), PyBytes_GET_SIZE(nb));
    Py_DECREF(nb);
    return rc;
}

static int
produce_into_c(PyObject *v, pbuf_t *b, PyObject *name_fn,
               PyObject *name_cache, int depth)
{
    PyTypeObject *cls = Py_TYPE(v);
    char tmp[64];

    if (depth > 400) { /* Python recursion parity: deep trees raise */
        PyErr_SetString(PyExc_RecursionError,
                        "maximum recursion depth exceeded");
        return -1;
    }
    if (cls == &PyLong_Type) {
        int overflow;
        long long x = PyLong_AsLongLongAndOverflow(v, &overflow);
        if (!overflow && !(x == -1 && PyErr_Occurred())) {
            int n = snprintf(tmp, sizeof(tmp), "%lld", x);
            return pbuf_put(b, tmp, n);
        }
        PyErr_Clear();
        {
            PyObject *s = PyObject_Str(v);
            int rc;
            if (s == NULL)
                return -1;
            rc = pbuf_put(b, PyUnicode_AsUTF8(s),
                          (Py_ssize_t)strlen(PyUnicode_AsUTF8(s)));
            Py_DECREF(s);
            return rc;
        }
    }
    if ((PyObject *)cls == S.NameType) {
        return emit_name_c(v, b, name_fn, name_cache);
    }
    if ((PyObject *)cls == S.Ref) {
        PyObject *num = PyTuple_GET_ITEM(v, 0);
        PyObject *gen = PyTuple_GET_ITEM(v, 1);
        int n = snprintf(tmp, sizeof(tmp), "%lld %lld R",
                         (long long)PyLong_AsLongLong(num),
                         (long long)PyLong_AsLongLong(gen));
        if (PyErr_Occurred())
            return -1;
        return pbuf_put(b, tmp, n);
    }
    if ((PyObject *)cls == S.CString) {
        PyObject *raw = PyObject_GetAttr(v, S.str_raw);
        PyObject *fh;
        int hex, rc = 0;
        const unsigned char *d;
        Py_ssize_t n, i;
        if (raw == NULL)
            return -1;
        fh = PyObject_GetAttrString(v, "force_hex");
        if (fh == NULL) {
            Py_DECREF(raw);
            return -1;
        }
        hex = PyObject_IsTrue(fh);
        Py_DECREF(fh);
        d = (const unsigned char *)PyBytes_AS_STRING(raw);
        n = PyBytes_GET_SIZE(raw);
        if (hex) {
            static const char hx[] = "0123456789abcdef";
            if (pbuf_reserve(b, 2 * n + 2) < 0) {
                Py_DECREF(raw);
                return -1;
            }
            b->buf[b->len++] = '<';
            for (i = 0; i < n; i++) {
                b->buf[b->len++] = hx[d[i] >> 4];
                b->buf[b->len++] = hx[d[i] & 15];
            }
            b->buf[b->len++] = '>';
        } else {
            if (pbuf_put(b, "(", 1) < 0)
                rc = -1;
            for (i = 0; rc == 0 && i < n; i++) {
                unsigned char c = d[i];
                if (c == 0x28)
                    rc = pbuf_put(b, "\\(", 2);
                else if (c == 0x29)
                    rc = pbuf_put(b, "\\)", 2);
                else if (c == 0x5C)
                    rc = pbuf_put(b, "\\\\", 2);
                else if (c == 0x0A)
                    rc = pbuf_put(b, "\\n", 2);
                else if (c == 0x0D)
                    rc = pbuf_put(b, "\\r", 2);
                else
                    rc = pbuf_put(b, &c, 1);
            }
            if (rc == 0)
                rc = pbuf_put(b, ")", 1);
        }
        Py_DECREF(raw);
        return rc;
    }
    if ((PyObject *)cls == S.CDict) {
        /* snapshot: emit_name_c/produce_into_c re-enter Python
         * (name_fn, nested callbacks) which may mutate the dict being
         * serialized — PyDict_Next over a mutating dict is UB.
         * PyDict_Items owns strong refs to every (key, val) pair. */
        PyObject *items = PyDict_Items(v);
        Py_ssize_t i, n;
        if (items == NULL)
            return -1;
        n = PyList_GET_SIZE(items);
        if (pbuf_put(b, "<<", 2) < 0) {
            Py_DECREF(items);
            return -1;
        }
        for (i = 0; i < n; i++) {
            PyObject *pair = PyList_GET_ITEM(items, i);
            if (pbuf_put(b, " ", 1) < 0 ||
                emit_name_c(PyTuple_GET_ITEM(pair, 0), b, name_fn,
                            name_cache) < 0 ||
                pbuf_put(b, " ", 1) < 0 ||
                produce_into_c(PyTuple_GET_ITEM(pair, 1), b, name_fn,
                               name_cache, depth + 1) < 0) {
                Py_DECREF(items);
                return -1;
            }
        }
        Py_DECREF(items);
        return pbuf_put(b, " >>", 3);
    }
    if (cls == &PyList_Type) {
        /* same re-entrancy hazard as the dict branch: snapshot before
         * iterating so a callback shrinking the list cannot leave a
         * stale n / dangling borrowed item */
        PyObject *snap = PySequence_List(v);
        Py_ssize_t i, n;
        if (snap == NULL)
            return -1;
        n = PyList_GET_SIZE(snap);
        if (pbuf_put(b, "[", 1) < 0) {
            Py_DECREF(snap);
            return -1;
        }
        for (i = 0; i < n; i++) {
            if (i && pbuf_put(b, " ", 1) < 0) {
                Py_DECREF(snap);
                return -1;
            }
            if (produce_into_c(PyList_GET_ITEM(snap, i), b, name_fn,
                               name_cache, depth + 1) < 0) {
                Py_DECREF(snap);
                return -1;
            }
        }
        Py_DECREF(snap);
        return pbuf_put(b, "]", 1);
    }
    if (cls == &PyFloat_Type) {
        char *s = PyOS_double_to_string(PyFloat_AS_DOUBLE(v), 'f', 6, 0, NULL);
        Py_ssize_t n, rc;
        if (s == NULL)
            return -1;
        n = (Py_ssize_t)strlen(s);
        while (n > 0 && s[n - 1] == '0')
            n--; /* rstrip("0") */
        if (n > 0 && s[n - 1] == '.')
            s[n++] = '0'; /* "...": re-add one zero (buffer shrank, safe) */
        rc = pbuf_put(b, s, n);
        PyMem_Free(s);
        return (int)rc;
    }
    if (cls == &PyBool_Type) {
        return v == Py_True ? pbuf_put(b, "true", 4) : pbuf_put(b, "false", 5);
    }
    if (v == S.cos_null) {
        return pbuf_put(b, "null", 4);
    }
    if ((PyObject *)cls == S.CStream) {
        PyObject *dict = PyObject_GetAttrString(v, "dict");
        PyObject *data;
        int rc;
        if (dict == NULL)
            return -1;
        rc = produce_into_c(dict, b, name_fn, name_cache, depth + 1);
        Py_DECREF(dict);
        if (rc < 0)
            return -1;
        if (pbuf_put(b, "\nstream\n", 8) < 0)
            return -1;
        data = PyObject_GetAttrString(v, "data");
        if (data == NULL)
            return -1;
        rc = pbuf_put(b, PyBytes_AS_STRING(data), PyBytes_GET_SIZE(data));
        Py_DECREF(data);
        if (rc < 0)
            return -1;
        return pbuf_put(b, "\nendstream", 10);
    }
    /* anything exotic (subclasses etc.): signal the Python fallback */
    PyErr_SetString(PyExc_TypeError, "ctok_produce: unsupported value");
    return -1;
}

/* ---- bulk indirect-object body serializer (codec assemblers) -------
 * serialize_objs([(num, obj), ...], eol, base, name_fn[, name_cache])
 *   -> (bytes, [offset, ...])
 * One C pass emitting "N 0 obj<eol><obj><eol>endobj<eol>" per item
 * into a single buffer, recording base+position per object — the
 * classic/incremental assemblers' per-object Python loop (str(n),
 * produce(), bytearray concat) fused away.  Byte-identical by
 * construction: the body bytes come from the same produce_into_c the
 * single-object path uses (differential parity in test_ctok_parity). */
static PyObject *
ctok_serialize_objs(PyObject *self, PyObject *args)
{
    PyObject *items, *name_fn, *name_cache = NULL, *eol_obj;
    Py_ssize_t base = 0;
    pbuf_t b = {NULL, 0, 0};
    PyObject *offsets = NULL, *body_bytes = NULL, *res = NULL;
    PyObject *snap = NULL;
    const char *eol;
    Py_ssize_t eol_len, n, i;

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "O!SnO|O", &PyList_Type, &items, &eol_obj,
                          &base, &name_fn, &name_cache))
        return NULL;
    if (name_cache != NULL && !PyDict_CheckExact(name_cache))
        name_cache = NULL;
    eol = PyBytes_AS_STRING(eol_obj);
    eol_len = PyBytes_GET_SIZE(eol_obj);
    /* snapshot: produce_into_c / name_fn re-enter arbitrary Python,
     * which may mutate the caller's list — iterating borrowed refs
     * over the original is a use-after-free (the snapshot holds
     * strong refs to every pair; pairs are immutable tuples) */
    snap = PySequence_List(items);
    if (snap == NULL)
        return NULL;
    n = PyList_GET_SIZE(snap);
    offsets = PyList_New(n);
    if (offsets == NULL) {
        Py_DECREF(snap);
        return NULL;
    }
    for (i = 0; i < n; i++) {
        PyObject *pair = PyList_GET_ITEM(snap, i);
        PyObject *num, *obj, *off;
        char head[32];
        int hn;
        if (!PyTuple_Check(pair) || PyTuple_GET_SIZE(pair) != 2) {
            PyErr_SetString(PyExc_TypeError,
                            "serialize_objs: items must be (num, obj)");
            goto fail;
        }
        num = PyTuple_GET_ITEM(pair, 0);
        obj = PyTuple_GET_ITEM(pair, 1);
        off = PyLong_FromSsize_t(base + b.len);
        if (off == NULL)
            goto fail;
        PyList_SET_ITEM(offsets, i, off);
        hn = snprintf(head, sizeof(head), "%lld 0 obj",
                      (long long)PyLong_AsLongLong(num));
        if (PyErr_Occurred())
            goto fail;
        if (pbuf_put(&b, head, hn) < 0 || pbuf_put(&b, eol, eol_len) < 0)
            goto fail;
        if (produce_into_c(obj, &b, name_fn, name_cache, 0) < 0)
            goto fail;
        if (pbuf_put(&b, eol, eol_len) < 0 ||
            pbuf_put(&b, "endobj", 6) < 0 ||
            pbuf_put(&b, eol, eol_len) < 0)
            goto fail;
    }
    body_bytes = PyBytes_FromStringAndSize((const char *)b.buf, b.len);
    if (body_bytes == NULL)
        goto fail;
    res = PyTuple_Pack(2, body_bytes, offsets);
    Py_DECREF(body_bytes);
    Py_DECREF(offsets);
    Py_DECREF(snap);
    PyMem_Free(b.buf);
    return res;
fail:
    Py_XDECREF(offsets);
    Py_XDECREF(snap);
    PyMem_Free(b.buf);
    return NULL;
}

static PyObject *
ctok_produce(PyObject *self, PyObject *args)
{
    PyObject *v, *name_fn, *res, *name_cache = NULL;
    pbuf_t b = {NULL, 0, 0};

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "OO|O", &v, &name_fn, &name_cache))
        return NULL;
    if (name_cache != NULL && !PyDict_CheckExact(name_cache))
        name_cache = NULL;
    if (produce_into_c(v, &b, name_fn, name_cache, 0) < 0) {
        PyMem_Free(b.buf);
        return NULL;
    }
    res = PyBytes_FromStringAndSize((const char *)b.buf, b.len);
    PyMem_Free(b.buf);
    return res;
}

/* ---- LZW decode (filters.lzw_decode twin) --------------------------
 * 9→12-bit variable codes; clear=256, EOD=257; early table growth at
 * 511/1023/2047; missing EOD tolerated. Table entries beyond 257 are
 * (offset, len) views into the OUTPUT buffer: each new entry is
 * prev ‖ first-byte-of-current, which is exactly the contiguous byte
 * run starting at prev's last emission offset. A code referencing a
 * missing entry with no prev raises the same EParseError as the
 * Python twin. */
static PyObject *
ctok_lzw_decode(PyObject *self, PyObject *args)
{
    PyObject *data;
    const unsigned char *d;
    Py_ssize_t n, i;
    unsigned char *out = NULL;
    Py_ssize_t out_len = 0, out_cap = 0;
    /* table: codes 0..255 single bytes; 256/257 reserved; 258..4095
     * are (offset,len) into `out` */
    Py_ssize_t tbl_off[4096], tbl_len_arr[4096];
    Py_ssize_t table_len = 258;
    int code_len = 9;
    Py_ssize_t prev_off = -1, prev_len = 0; /* -1 ⇒ prev is None */
    unsigned long acc = 0;
    int nbits = 0;
    PyObject *res;

    (void)self;
    if (!PyArg_ParseTuple(args, "S", &data))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);

#define OUT_RESERVE(extra)                                                \
    do {                                                                  \
        if (out_len + (extra) > out_cap) {                                \
            Py_ssize_t ncap = out_cap ? out_cap * 2 : 256;                \
            unsigned char *nb;                                            \
            while (ncap < out_len + (extra))                              \
                ncap *= 2;                                                \
            nb = (unsigned char *)PyMem_Realloc(out, ncap);               \
            if (nb == NULL) {                                             \
                PyMem_Free(out);                                          \
                return PyErr_NoMemory();                                  \
            }                                                             \
            out = nb;                                                     \
            out_cap = ncap;                                               \
        }                                                                 \
    } while (0)

    for (i = 0; i < n; i++) {
        acc = (acc << 8) | d[i];
        nbits += 8;
        while (nbits >= code_len) {
            long code;
            Py_ssize_t e_off, e_len;
            nbits -= code_len;
            code = (long)((acc >> nbits) & ((1UL << code_len) - 1));
            if (code == 256) { /* clear */
                table_len = 258;
                code_len = 9;
                prev_off = -1;
                prev_len = 0;
                continue;
            }
            if (code == 257) { /* EOD */
                res = PyBytes_FromStringAndSize((const char *)out, out_len);
                PyMem_Free(out);
                return res;
            }
            if (prev_off < 0 && prev_len == 0 && code >= 256) {
                /* prev is None and code isn't a literal: the Python
                 * path indexes table[code] — 256/257 are the empty
                 * placeholders, beyond is a broken stream */
                if (code < table_len) {
                    if (code < 258) { /* b"" placeholder: emits nothing */
                        prev_off = out_len;
                        prev_len = 0;
                        goto growth;
                    }
                    /* unreachable: table_len>258 implies prev set */
                }
                PyMem_Free(out);
                PyErr_Format(S.eparse, "LZW code %ld not in table", code);
                return NULL;
            }
            if (prev_off < 0 && prev_len == 0 && table_len == 258 &&
                code < 256) {
                /* first code: literal */
                OUT_RESERVE(1);
                prev_off = out_len;
                prev_len = 1;
                out[out_len++] = (unsigned char)code;
                goto growth;
            }
            if (prev_off < 0) {
                /* prev None, mid-stream literal (after clear) */
                OUT_RESERVE(1);
                prev_off = out_len;
                prev_len = 1;
                out[out_len++] = (unsigned char)code;
                goto growth;
            }
            if (code < 256) {
                e_off = -1; /* literal */
                e_len = 1;
            } else if (code < table_len) {
                if (code < 258) { /* empty placeholder */
                    e_off = out_len;
                    e_len = 0;
                } else {
                    e_off = tbl_off[code];
                    e_len = tbl_len_arr[code];
                }
            } else {
                /* KwKwK: entry = prev + prev[:1] */
                e_off = -2;
                e_len = prev_len + 1;
            }
            /* register the NEW table entry = prev + entry[:1]; its
             * bytes are prev's bytes followed by the first byte of
             * this emission — contiguous at prev_off ONLY when prev
             * was emitted at prev_off and entry follows directly; we
             * emit below at out_len, so the combined run starts at
             * prev_off iff prev_off+prev_len == out_len (always true:
             * prev was the previous emission). */
            if (table_len < 4096) {
                tbl_off[table_len] = prev_off;
                tbl_len_arr[table_len] = prev_len + 1;
                table_len++;
            } else {
                /* Python list would keep appending past 4096; codes
                 * can't reference >4095 at 12 bits, but table GROWTH
                 * bookkeeping must not corrupt — emulate by counting */
                table_len++;
            }
            /* emit the entry */
            if (e_off == -1) { /* literal byte */
                OUT_RESERVE(1);
                prev_off = out_len;
                out[out_len++] = (unsigned char)code;
                prev_len = 1;
            } else if (e_off == -2) { /* KwKwK */
                OUT_RESERVE(e_len);
                memcpy(out + out_len, out + prev_off, prev_len);
                out[out_len + prev_len] = out[prev_off];
                prev_off = out_len;
                out_len += e_len;
                prev_len = e_len;
            } else {
                OUT_RESERVE(e_len);
                memcpy(out + out_len, out + e_off, e_len);
                prev_off = out_len;
                out_len += e_len;
                prev_len = e_len;
            }
        growth:
            if (table_len + 1 >= (1L << code_len) && code_len < 12)
                code_len++;
        }
    }
    res = PyBytes_FromStringAndSize((const char *)out, out_len);
    PyMem_Free(out);
    return res;
#undef OUT_RESERVE
}

/* ---- LZW encode (filters.lzw_encode twin) --------------------------
 * Byte-identical to the Python generator-side encoder: leading clear,
 * early-change width bumps (the width grows when next_code REACHES
 * 2^len, i.e. before the code that the lagging decoder would need
 * wider), table full at 12 bits → clear + restart, trailing EOD,
 * left-shift zero padding of the final partial byte
 * (acc << (8-nbits)) — exactly the Python emit/flush pair.
 * The string table is the classic (prefix_code, byte) → code map,
 * here an open-addressing hash so a clear is one memset. */
static PyObject *
ctok_lzw_encode(PyObject *self, PyObject *args)
{
    PyObject *data;
    const unsigned char *d;
    Py_ssize_t n, i;
    unsigned char *out = NULL;
    Py_ssize_t out_len = 0, out_cap = 0;
#define LZWE_HASH_SIZE 16384 /* > 2·3838 live entries, power of two */
    int32_t *hkey = NULL;
    int16_t *hval = NULL;
    int next_code = 258, code_len = 9;
    unsigned long acc = 0;
    int nbits = 0;
    int w_code = -1;
    PyObject *res;

    (void)self;
    if (!PyArg_ParseTuple(args, "S", &data))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);

    hkey = (int32_t *)PyMem_Malloc(LZWE_HASH_SIZE * sizeof(int32_t));
    hval = (int16_t *)PyMem_Malloc(LZWE_HASH_SIZE * sizeof(int16_t));
    if (hkey == NULL || hval == NULL) {
        PyMem_Free(hkey);
        PyMem_Free(hval);
        return PyErr_NoMemory();
    }
    memset(hkey, 0xFF, LZWE_HASH_SIZE * sizeof(int32_t)); /* -1 empty */

#define ENC_RESERVE(extra)                                                \
    do {                                                                  \
        if (out_len + (extra) > out_cap) {                                \
            Py_ssize_t ncap = out_cap ? out_cap * 2 : 256;                \
            unsigned char *nb;                                            \
            while (ncap < out_len + (extra))                              \
                ncap *= 2;                                                \
            nb = (unsigned char *)PyMem_Realloc(out, ncap);               \
            if (nb == NULL) {                                             \
                PyMem_Free(out);                                          \
                PyMem_Free(hkey);                                         \
                PyMem_Free(hval);                                         \
                return PyErr_NoMemory();                                  \
            }                                                             \
            out = nb;                                                     \
            out_cap = ncap;                                               \
        }                                                                 \
    } while (0)

#define ENC_EMIT(code)                                                    \
    do {                                                                  \
        acc = (acc << code_len) | (unsigned long)(code);                  \
        nbits += code_len;                                                \
        while (nbits >= 8) {                                              \
            nbits -= 8;                                                   \
            ENC_RESERVE(1);                                               \
            out[out_len++] = (unsigned char)((acc >> nbits) & 0xFF);      \
        }                                                                 \
    } while (0)

    ENC_EMIT(256); /* leading clear */
    for (i = 0; i < n; i++) {
        int c = d[i];
        if (w_code < 0) {
            w_code = c; /* single byte: its own code */
            continue;
        }
        {
            uint32_t key = ((uint32_t)w_code << 8) | (uint32_t)c;
            uint32_t idx = (key * 2654435761u) & (LZWE_HASH_SIZE - 1);
            int found = -1;
            while (hkey[idx] != -1) {
                if ((uint32_t)hkey[idx] == key) {
                    found = hval[idx];
                    break;
                }
                idx = (idx + 1) & (LZWE_HASH_SIZE - 1);
            }
            if (found >= 0) {
                w_code = found;
                continue;
            }
            ENC_EMIT(w_code);
            hkey[idx] = (int32_t)key;
            hval[idx] = (int16_t)next_code;
            next_code++;
            if (next_code >= (1 << code_len)) {
                if (code_len < 12) {
                    code_len++;
                } else { /* table full → clear + restart */
                    ENC_EMIT(256);
                    memset(hkey, 0xFF,
                           LZWE_HASH_SIZE * sizeof(int32_t));
                    next_code = 258;
                    code_len = 9;
                }
            }
            w_code = c;
        }
    }
    if (w_code >= 0)
        ENC_EMIT(w_code);
    ENC_EMIT(257); /* EOD */
    if (nbits) {
        ENC_RESERVE(1);
        out[out_len++] = (unsigned char)((acc << (8 - nbits)) & 0xFF);
    }
    res = PyBytes_FromStringAndSize((const char *)out, out_len);
    PyMem_Free(out);
    PyMem_Free(hkey);
    PyMem_Free(hval);
    return res;
#undef ENC_EMIT
#undef ENC_RESERVE
#undef LZWE_HASH_SIZE
}

/* ---- classic xref table fast path (xref._parse_classic_table) ------
 * Parse `start count` subsections of strict 20-byte rows in one C
 * pass. ALL-OR-NOTHING: any anomaly (non-strict geometry, non-digit
 * fields, unknown flag, the broken-first-free writer quirk, absurd
 * header digits) returns None and the Python implementation runs
 * from the ORIGINAL position with its full PERMISSIVE machinery.
 * On success returns ([(num, gen, offset), ...] for 'n' rows, endpos).
 */
static PyObject *
ctok_parse_xref_table(PyObject *self, PyObject *args)
{
    PyObject *data, *rows, *res;
    Py_ssize_t pos;
    const unsigned char *d;
    Py_ssize_t n;

    (void)self;
    if (!PyArg_ParseTuple(args, "Sn", &data, &pos))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);
    if (pos < 0 || pos > n)
        Py_RETURN_NONE;
    rows = PyList_New(0);
    if (rows == NULL)
        return NULL;
#define BAIL()                                                            \
    do {                                                                  \
        Py_DECREF(rows);                                                  \
        Py_RETURN_NONE;                                                   \
    } while (0)
    for (;;) {
        Py_ssize_t p = pos, s, i;
        long long start = 0, count = 0;
        /* subsection header: ws* digits ws+ digits ws* (mirrors
         * _XREF_SUB_RE; a non-match means `trailer` comes next) */
        while (p < n && is_ws_c(d[p]))
            p++;
        if (p >= n || d[p] < '0' || d[p] > '9')
            break; /* no more subsections — success */
        s = p;
        while (p < n && d[p] >= '0' && d[p] <= '9' && p - s < 18) {
            start = start * 10 + (d[p] - '0');
            p++;
        }
        if (p < n && d[p] >= '0' && d[p] <= '9')
            BAIL(); /* absurd header */
        if (p >= n || !is_ws_c(d[p]))
            BAIL();
        while (p < n && is_ws_c(d[p]))
            p++;
        if (p >= n || d[p] < '0' || d[p] > '9')
            BAIL();
        s = p;
        while (p < n && d[p] >= '0' && d[p] <= '9' && p - s < 9) {
            count = count * 10 + (d[p] - '0');
            p++;
        }
        if (p < n && d[p] >= '0' && d[p] <= '9')
            BAIL();
        while (p < n && is_ws_c(d[p]))
            p++;
        if (p + 20 * count > n)
            BAIL(); /* short block */
        for (i = 0; i < count; i++) {
            const unsigned char *row = d + p + 20 * i;
            long long off = 0, gen = 0;
            unsigned char flag;
            int k;
            if (row[10] != 0x20 || row[16] != 0x20)
                BAIL();
            for (k = 0; k < 10; k++) {
                if (row[k] < '0' || row[k] > '9')
                    BAIL();
                off = off * 10 + (row[k] - '0');
            }
            for (k = 11; k < 16; k++) {
                if (row[k] < '0' || row[k] > '9')
                    BAIL();
                gen = gen * 10 + (row[k] - '0');
            }
            flag = row[17] != 0x20 ? row[17] : row[18];
            if (flag != 'n' && flag != 'f')
                BAIL();
            if (i == 0 && start == 1 && off == 0 && gen == 65535 &&
                flag == 'f')
                BAIL(); /* broken-first-free quirk → Python path */
            if (flag == 'n') {
                PyObject *t = Py_BuildValue("(LLL)", start + (long long)i,
                                            gen, off);
                if (t == NULL || PyList_Append(rows, t) < 0) {
                    Py_XDECREF(t);
                    Py_DECREF(rows);
                    return NULL;
                }
                Py_DECREF(t);
            }
        }
        pos = p + 20 * count;
    }
#undef BAIL
    res = Py_BuildValue("(On)", rows, pos);
    Py_DECREF(rows);
    return res;
}

/* ---- indirect-object fast path (xref._parse_indirect_at hot half) --
 * Seek to the recorded offset, verify the `id gen obj` header (plain
 * ws between tokens, comments allowed only before — cos._IDGEN_RE
 * semantics), then parse the value in one C descent. Returns the
 * value, or None on ANY header mismatch (wrong id, `R`, garbage, out
 * of range) — the Python caller runs the §C.2 salvage scan then.
 * Parse errors AFTER a verified header raise, exactly like the
 * Python path. */
/* Core of the fused seek+verify+parse behind parse_indirect. Returns
 * the parsed value, Py_None (new ref) on ANY header mismatch — the
 * caller runs the salvage scan — or NULL with an exception set. */
static PyObject *
parse_indirect_core(const unsigned char *d, Py_ssize_t n, Py_ssize_t pos,
                    long long expected, PyObject *resolver, int allow_recon)
{
    PyObject *v;
    Py_ssize_t s;
    long long idv = 0;

    if (pos < 0 || pos > n)
        Py_RETURN_NONE;
    skip_ws_comments(d, n, &pos);
    if (pos >= n || d[pos] < '0' || d[pos] > '9')
        Py_RETURN_NONE;
    s = pos;
    while (pos < n && d[pos] >= '0' && d[pos] <= '9' && pos - s < 18) {
        idv = idv * 10 + (d[pos] - '0');
        pos++;
    }
    if (pos < n && d[pos] >= '0' && d[pos] <= '9')
        Py_RETURN_NONE; /* >18-digit id can never equal a real num */
    if (pos >= n || !is_ws_c(d[pos]))
        Py_RETURN_NONE;
    while (pos < n && is_ws_c(d[pos]))
        pos++;
    if (pos >= n || d[pos] < '0' || d[pos] > '9')
        Py_RETURN_NONE;
    s = pos;
    while (pos < n && d[pos] >= '0' && d[pos] <= '9' && pos - s < 18)
        pos++;
    if (pos < n && d[pos] >= '0' && d[pos] <= '9')
        Py_RETURN_NONE;
    if (pos >= n || !is_ws_c(d[pos]))
        Py_RETURN_NONE;
    while (pos < n && is_ws_c(d[pos]))
        pos++;
    if (!(pos + 3 <= n && memcmp(d + pos, "obj", 3) == 0))
        Py_RETURN_NONE;
    pos += 3;
    if (idv != expected)
        Py_RETURN_NONE;
    v = parse_value(d, n, &pos, resolver, allow_recon);
    return v; /* NULL propagates the parse error */
}

static PyObject *
ctok_parse_indirect(PyObject *self, PyObject *args)
{
    PyObject *data, *resolver;
    Py_ssize_t pos;
    long expected;
    int allow_recon;

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "SnlOp", &data, &pos, &expected, &resolver,
                          &allow_recon))
        return NULL;
    return parse_indirect_core(
        (const unsigned char *)PyBytes_AS_STRING(data),
        PyBytes_GET_SIZE(data), pos, expected, resolver, allow_recon);
}

/* ---- page-tree DFS (docmodel.Document.pages twin) ------------------
 * Mirrors docmodel.py walk() exactly: in-order /Kids DFS, copy-on-
 * write inheritance of Resources/MediaBox/CropBox/Rotate (held as
 * four C locals down the recursion), /Type-less nodes with /Kids
 * treated as /Pages, kids must be references, each node (root
 * included) visited once, depth cap 64. Emits
 * one (node_num, mediabox, cropbox, resources, contents, rotate)
 * tuple per leaf; the Python caller builds PageInfo + Rect (with the
 * per-walk rect memo). Box/Resources values are returned RAW —
 * exactly what the Python walk stores into `inh`. */
static PyObject *
deref_chain(PyObject *v, PyObject *resolver)
{
    /* returns a NEW reference; mirrors CDict.deref (cos.py:127-145).
     * Exact-type Ref check: Ref is a closed NamedTuple (no
     * subclasses), and the Python hot path checks `__class__ is
     * Ref` for the same reason. */
    long depth = 0;
    Py_INCREF(v);
    while ((PyObject *)Py_TYPE(v) == S.Ref) {
        PyObject *nv;
        if (depth >= S.max_deref) {
            Py_DECREF(v);
            PyErr_SetString(S.eparse,
                            "Infinite or too deep loop of references");
            return NULL;
        }
        nv = PyObject_CallFunctionObjArgs(resolver, v, NULL);
        Py_DECREF(v);
        if (nv == NULL)
            return NULL;
        v = nv;
        depth++;
    }
    return v;
}

/* inh slot order: 0=Resources 1=MediaBox 2=CropBox 3=Rotate */
static int
walk_node(PyObject *node, PyObject *node_num, PyObject **inh, int depth,
          PyObject *resolver, PyObject *visited, PyObject *out)
{
    PyObject *local[4];
    int own[4] = {0, 0, 0, 0};
    PyObject *keys[4];
    PyObject *tv, *kids_raw, *kids = NULL;
    int is_pages, i, rc = -1;

    keys[0] = S.u_Resources;
    keys[1] = S.u_MediaBox;
    keys[2] = S.u_CropBox;
    keys[3] = S.u_Rotate;
    for (i = 0; i < 4; i++)
        local[i] = inh[i];
    if (depth > 64) {
        PyErr_SetString(S.eparse, "page tree too deep");
        return -1;
    }
    for (i = 0; i < 4; i++) {
        PyObject *raw = PyDict_GetItemWithError(node, keys[i]);
        if (raw == NULL) {
            if (PyErr_Occurred())
                goto done;
            continue;
        }
        raw = deref_chain(raw, resolver);
        if (raw == NULL)
            goto done;
        local[i] = raw;
        own[i] = 1;
    }
    /* ntype: get_name("Type") with NO resolver — a Ref /Type derefs
     * to COS_NULL under a None resolver and yields default None */
    tv = PyDict_GetItemWithError(node, S.u_Type); /* borrowed */
    if (tv == NULL && PyErr_Occurred())
        goto done;
    if (tv != NULL && (PyObject *)Py_TYPE(tv) != S.NameType)
        tv = NULL;
    kids_raw = PyDict_GetItemWithError(node, S.u_Kids); /* borrowed */
    if (kids_raw == NULL && PyErr_Occurred())
        goto done;
    if (kids_raw != NULL) {
        kids = deref_chain(kids_raw, resolver);
        if (kids == NULL)
            goto done;
        if (!PyList_Check(kids))
            Py_CLEAR(kids);
    }
    is_pages =
        (tv != NULL && PyUnicode_CompareWithASCIIString(tv, "Pages") == 0) ||
        (tv == NULL && kids != NULL);
    if (is_pages) {
        Py_ssize_t k, nk;
        if (kids == NULL) {
            if (soft_event("structure", "/Pages node without /Kids") == 0)
                rc = 0;
            goto done;
        }
        nk = PyList_GET_SIZE(kids);
        for (k = 0; k < nk; k++) {
            PyObject *kid = PyList_GET_ITEM(kids, k); /* borrowed */
            PyObject *knode;
            int kr, isdict, seen;
            if ((PyObject *)Py_TYPE(kid) != S.Ref) {
                PyErr_SetString(S.eparse,
                                "page-tree kid is not a reference");
                goto done;
            }
            /* kid num stays a PyObject — object numbers are
             * unbounded Python ints in corrupt files and the Python
             * walk handles them; converting to long long here could
             * overflow with an ignored error (C-API violation) */
            seen = PySet_Contains(visited, PyTuple_GET_ITEM(kid, 0));
            if (seen < 0)
                goto done;
            if (seen) {
                PyErr_SetString(S.eparse, "page tree node visited twice");
                goto done;
            }
            if (PySet_Add(visited, PyTuple_GET_ITEM(kid, 0)) < 0)
                goto done;
            knode = PyObject_CallFunctionObjArgs(resolver, kid, NULL);
            if (knode == NULL)
                goto done;
            isdict = PyObject_IsInstance(knode, S.CDict);
            if (isdict < 0) {
                Py_DECREF(knode);
                goto done;
            }
            if (!isdict) {
                PyErr_Format(S.eparse, "kid %R is not a dictionary", kid);
                Py_DECREF(knode);
                goto done;
            }
            kr = walk_node(
                knode, PyTuple_GET_ITEM(kid, 0),
                local, depth + 1, resolver, visited, out);
            Py_DECREF(knode);
            if (kr < 0)
                goto done;
        }
        rc = 0;
    } else {
        /* leaf page */
        PyObject *cv, *contents, *row, *res_o, *rot_o, *rot_obj;
        contents = PyList_New(0);
        if (contents == NULL)
            goto done;
        cv = PyDict_GetItemWithError(node, S.u_Contents); /* borrowed */
        if (cv == NULL && PyErr_Occurred()) {
            Py_DECREF(contents);
            goto done;
        }
        if (cv != NULL) {
            cv = deref_chain(cv, resolver);
            if (cv == NULL) {
                Py_DECREF(contents);
                goto done;
            }
            if ((PyObject *)Py_TYPE(cv) == S.CStream) {
                if (PyList_Append(contents, cv) < 0) {
                    Py_DECREF(cv);
                    Py_DECREF(contents);
                    goto done;
                }
            } else if (PyList_Check(cv)) {
                Py_ssize_t c, nc = PyList_GET_SIZE(cv);
                for (c = 0; c < nc; c++) {
                    PyObject *cd = deref_chain(
                        PyList_GET_ITEM(cv, c), resolver);
                    if (cd == NULL) {
                        Py_DECREF(cv);
                        Py_DECREF(contents);
                        goto done;
                    }
                    if ((PyObject *)Py_TYPE(cd) == S.CStream &&
                        PyList_Append(contents, cd) < 0) {
                        Py_DECREF(cd);
                        Py_DECREF(cv);
                        Py_DECREF(contents);
                        goto done;
                    }
                    Py_DECREF(cd);
                }
            }
            Py_DECREF(cv);
        }
        /* int(rot) if isinstance(rot, (int, float)) else 0 — via
         * PyNumber_Long so bool/bignum/NaN behave exactly like the
         * Python int() call (NaN raises, bignums survive) */
        rot_o = local[3];
        if (rot_o != NULL && (PyLong_Check(rot_o) || PyFloat_Check(rot_o))) {
            rot_obj = PyNumber_Long(rot_o);
            if (rot_obj == NULL) {
                Py_DECREF(contents);
                goto done;
            }
        } else {
            rot_obj = PyLong_FromLong(0);
            if (rot_obj == NULL) {
                Py_DECREF(contents);
                goto done;
            }
        }
        res_o = Py_None;
        if (local[0] != NULL) {
            int isd = PyObject_IsInstance(local[0], S.CDict);
            if (isd < 0) {
                Py_DECREF(contents);
                goto done;
            }
            if (isd)
                res_o = local[0];
        }
        row = Py_BuildValue(
            "(OOOOON)", node_num,
            local[1] != NULL ? local[1] : Py_None,
            local[2] != NULL ? local[2] : Py_None,
            res_o, contents, rot_obj);
        Py_DECREF(contents);
        if (row == NULL)
            goto done;
        if (PyList_Append(out, row) < 0) {
            Py_DECREF(row);
            goto done;
        }
        Py_DECREF(row);
        rc = 0;
    }
done:
    Py_XDECREF(kids);
    for (i = 0; i < 4; i++)
        if (own[i])
            Py_DECREF(local[i]);
    return rc;
}

static PyObject *
ctok_walk_pages(PyObject *self, PyObject *args)
{
    PyObject *pages, *resolver, *out, *root_num, *visited;
    PyObject *inh[4] = {NULL, NULL, NULL, NULL};
    int rc;

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "O!OO", &PyDict_Type, &pages, &root_num,
                          &resolver))
        return NULL;
    visited = PySet_New(NULL);
    if (visited == NULL)
        return NULL;
    if (PySet_Add(visited, root_num) < 0) {
        Py_DECREF(visited);
        return NULL;
    }
    out = PyList_New(0);
    if (out == NULL) {
        Py_DECREF(visited);
        return NULL;
    }
    rc = walk_node(pages, root_num, inh, 0, resolver, visited, out);
    Py_DECREF(visited);
    if (rc < 0) {
        Py_DECREF(out);
        return NULL;
    }
    return out;
}

/* ---- fused content-stream INTERPRETER (textops._interpret_content_py
 * twin) -------------------------------------------------------------
 * The lex loop of ctok_lex_content with op dispatch fused in: the
 * text-state machine, matrix math and §9.4.4 advance arithmetic run
 * as C doubles with the EXACT association order of the Python
 * implementation (bit-identical floats — the geometry oracle hashes
 * values). Python is re-entered only per show string
 * (Font.show_info), per Tf (the get_font closure) and per Do (the
 * XObject closure, which recurses through the Python wrapper).
 * Differential parity: tests/test_ctok_parity.py. */

typedef struct {
    double ctm[6], tm[6], tlm[6];
    double *cstack;
    Py_ssize_t cs_len, cs_cap;
    double size, tc, tw, th, leading;
    double trm0, trm4, trm5;
    double span_x, span_y, span_h, span_adv;
    int in_text, trm_valid, span_xy_valid, span_h_valid, span_w_known;
    int tj_kerning;
    PyObject *spans, *text_parts;     /* owned lists */
    PyObject *font, *show_info;       /* owned */
    PyObject *get_font, *do_handler, *span_cls; /* borrowed args */
    /* simple-font fast path: whole show_info computed in C off two
     * flat 256-entry tables (Font._fast_spec) — no Python re-entry */
    PyObject *fs_ref;                 /* owned (the spec tuple) */
    const uint32_t *fs_uni;
    const long long *fs_w;            /* NULL: metrics unknown */
} interp_t;

/* fetch font._fast_spec and (re)bind the C fast-path tables */
static int
bind_fast_spec(interp_t *st, PyObject *font)
{
    PyObject *spec = PyObject_GetAttr(font, S.str_fast_spec);
    if (spec == NULL) {
        PyErr_Clear(); /* foreign Font-alike without the attr */
        Py_CLEAR(st->fs_ref);
        st->fs_uni = NULL;
        st->fs_w = NULL;
        return 0;
    }
    if (PyTuple_CheckExact(spec) && PyTuple_GET_SIZE(spec) == 2 &&
        PyBytes_CheckExact(PyTuple_GET_ITEM(spec, 0)) &&
        PyBytes_GET_SIZE(PyTuple_GET_ITEM(spec, 0)) == 256 * 4) {
        PyObject *wb = PyTuple_GET_ITEM(spec, 1);
        Py_XSETREF(st->fs_ref, spec);
        st->fs_uni = (const uint32_t *)PyBytes_AS_STRING(
            PyTuple_GET_ITEM(spec, 0));
        st->fs_w = (PyBytes_CheckExact(wb) &&
                    PyBytes_GET_SIZE(wb) == 256 * 8)
                       ? (const long long *)PyBytes_AS_STRING(wb)
                       : NULL;
        st->fs_w = (wb == Py_None) ? NULL : st->fs_w;
    } else {
        Py_DECREF(spec);
        Py_CLEAR(st->fs_ref);
        st->fs_uni = NULL;
        st->fs_w = NULL;
    }
    return 0;
}

static const double MAT_ID_C[6] = {1.0, 0.0, 0.0, 1.0, 0.0, 0.0};

/* result applies m, then n — textops._matmul association order */
static void
mat_mul_c(const double *m, const double *n, double *out)
{
    double a = m[0], b = m[1], c = m[2], dd = m[3], e = m[4], f = m[5];
    double A = n[0], B = n[1], C = n[2], D = n[3], E = n[4], F = n[5];
    out[0] = a * A + b * C;
    out[1] = a * B + b * D;
    out[2] = c * A + dd * C;
    out[3] = c * B + dd * D;
    out[4] = e * A + f * C + E;
    out[5] = e * B + f * D + F;
}

static void
ensure_trm(interp_t *st)
{
    if (!st->trm_valid) {
        double t[6];
        mat_mul_c(st->tm, st->ctm, t);
        st->trm0 = t[0];
        st->trm4 = t[4];
        st->trm5 = t[5];
        st->trm_valid = 1;
    }
}

/* textops._nums twin: -1 error, 0 not-numbers/too-few, 1 ok */
static int
last_nums_c(PyObject *ops, int n, double *out)
{
    Py_ssize_t len = PyList_GET_SIZE(ops);
    int i;
    if (len < n)
        return 0;
    for (i = 0; i < n; i++) {
        PyObject *v = PyList_GET_ITEM(ops, len - n + i);
        if (PyFloat_CheckExact(v))
            out[i] = PyFloat_AS_DOUBLE(v);
        else if (PyLong_CheckExact(v)) {
            out[i] = PyLong_AsDouble(v);
            if (out[i] == -1.0 && PyErr_Occurred())
                return -1;
        } else
            return 0;
    }
    return 1;
}

static void
next_line_c(interp_t *st)
{
    double t[6] = {1.0, 0.0, 0.0, 1.0, 0.0, 0.0}, r[6];
    t[5] = -st->leading;
    mat_mul_c(t, st->tlm, r);
    memcpy(st->tlm, r, sizeof(r));
    memcpy(st->tm, r, sizeof(r));
    st->trm_valid = 0;
}

static int
do_show_c(interp_t *st, PyObject *s)
{
    int isc = PyObject_IsInstance(s, S.CString);
    PyObject *raw, *info, *text, *adv;
    if (isc <= 0)
        return isc; /* 0: not a string — ignored; <0: error */
    ensure_trm(st);
    if (!st->span_xy_valid) {
        st->span_x = st->trm4;
        st->span_y = st->trm5;
        st->span_xy_valid = 1;
        /* `span_h = cur_size or None` — ±0.0 is falsy, NaN truthy */
        if (st->size != 0.0) {
            st->span_h = st->size;
            st->span_h_valid = 1;
        } else
            st->span_h_valid = 0;
    }
    raw = PyObject_GetAttr(s, S.str_raw);
    if (raw == NULL)
        return -1;
    if (st->fs_uni != NULL && PyBytes_CheckExact(raw)) {
        /* simple-font fast path: decode + advance + counts in C —
         * float arithmetic in the EXACT Python association order */
        const unsigned char *d = (const unsigned char *)PyBytes_AS_STRING(raw);
        Py_ssize_t n = PyBytes_GET_SIZE(raw), i;
        Py_UCS4 sbuf[256];
        Py_UCS4 *ubuf = sbuf;
        PyObject *txt;
        int rc;
        if (n > 256) {
            ubuf = (Py_UCS4 *)PyMem_Malloc(n * sizeof(Py_UCS4));
            if (ubuf == NULL) {
                Py_DECREF(raw);
                PyErr_NoMemory();
                return -1;
            }
        }
        for (i = 0; i < n; i++)
            ubuf[i] = st->fs_uni[d[i]];
        txt = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, ubuf, n);
        if (ubuf != sbuf)
            PyMem_Free(ubuf);
        Py_DECREF(raw);
        if (txt == NULL)
            return -1;
        if (st->fs_w == NULL)
            st->span_w_known = 0; /* advance None: metrics unknown */
        else {
            long long adv_ll = 0;
            long nsp = 0;
            for (i = 0; i < n; i++) {
                adv_ll += st->fs_w[d[i]];
                if (d[i] == 32)
                    nsp++;
            }
            st->span_adv += (((double)adv_ll * st->size) / 1000.0 +
                             st->tc * (double)n +
                             st->tw * (double)nsp) *
                            st->th * st->trm0;
        }
        rc = PyList_Append(st->text_parts, txt);
        Py_DECREF(txt);
        return rc;
    }
    info = PyObject_CallFunctionObjArgs(st->show_info, raw, NULL);
    Py_DECREF(raw);
    if (info == NULL)
        return -1;
    if (!PyTuple_Check(info) || PyTuple_GET_SIZE(info) != 4) {
        Py_DECREF(info);
        PyErr_SetString(PyExc_TypeError, "show_info must return a 4-tuple");
        return -1;
    }
    text = PyTuple_GET_ITEM(info, 0);
    adv = PyTuple_GET_ITEM(info, 1);
    if (adv == Py_None)
        st->span_w_known = 0;
    else {
        double adv_d, ng, nsp;
        PyObject *ngo = PyTuple_GET_ITEM(info, 2);
        PyObject *nso = PyTuple_GET_ITEM(info, 3);
        if (PyLong_CheckExact(adv))
            adv_d = PyLong_AsDouble(adv);
        else if (PyFloat_CheckExact(adv))
            adv_d = PyFloat_AS_DOUBLE(adv);
        else {
            Py_DECREF(info);
            PyErr_SetString(PyExc_TypeError, "show_info advance not numeric");
            return -1;
        }
        ng = (double)PyLong_AsLong(ngo);
        nsp = (double)PyLong_AsLong(nso);
        if (PyErr_Occurred()) {
            Py_DECREF(info);
            return -1;
        }
        /* ((adv·Tfs)/1000 + Tc·n + Tw·nsp)·Th·trm0 — exact Python
         * association order (left-to-right adds, then two mults) */
        st->span_adv += ((adv_d * st->size) / 1000.0 + st->tc * ng +
                         st->tw * nsp) *
                        st->th * st->trm0;
    }
    {
        int rc = PyList_Append(st->text_parts, text);
        Py_DECREF(info);
        return rc;
    }
}

static int
emit_text_span(interp_t *st)
{
    PyObject *joined, *x, *y, *w, *h, *span;
    int rc;
    joined = PyUnicode_Join(S.u_empty, st->text_parts);
    if (joined == NULL)
        return -1;
    if (st->span_xy_valid) {
        x = PyFloat_FromDouble(st->span_x);
        y = PyFloat_FromDouble(st->span_y);
    } else {
        x = Py_None;
        Py_INCREF(x);
        y = Py_None;
        Py_INCREF(y);
    }
    w = (st->span_w_known && st->span_xy_valid)
            ? PyFloat_FromDouble(st->span_adv)
            : (Py_INCREF(Py_None), Py_None);
    h = st->span_h_valid ? PyFloat_FromDouble(st->span_h)
                         : (Py_INCREF(Py_None), Py_None);
    if (x == NULL || y == NULL || w == NULL || h == NULL) {
        Py_XDECREF(joined); Py_XDECREF(x); Py_XDECREF(y);
        Py_XDECREF(w); Py_XDECREF(h);
        return -1;
    }
    span = PyObject_CallFunctionObjArgs(st->span_cls, S.u_text, joined,
                                        Py_None, x, y, w, h, NULL);
    Py_DECREF(joined);
    Py_DECREF(x);
    Py_DECREF(y);
    Py_DECREF(w);
    Py_DECREF(h);
    if (span == NULL)
        return -1;
    rc = PyList_Append(st->spans, span);
    Py_DECREF(span);
    return rc;
}

static int
emit_media_span(interp_t *st, PyObject *media_ref)
{
    PyObject *e = PyFloat_FromDouble(st->ctm[4]);
    PyObject *f = PyFloat_FromDouble(st->ctm[5]);
    PyObject *a = PyFloat_FromDouble(st->ctm[0]);
    PyObject *dd = PyFloat_FromDouble(st->ctm[3]);
    PyObject *span;
    int rc;
    if (e == NULL || f == NULL || a == NULL || dd == NULL) {
        Py_XDECREF(e); Py_XDECREF(f); Py_XDECREF(a); Py_XDECREF(dd);
        return -1;
    }
    span = PyObject_CallFunctionObjArgs(st->span_cls, S.u_media, Py_None,
                                        media_ref, e, f, a, dd, NULL);
    Py_DECREF(e);
    Py_DECREF(f);
    Py_DECREF(a);
    Py_DECREF(dd);
    if (span == NULL)
        return -1;
    rc = PyList_Append(st->spans, span);
    Py_DECREF(span);
    return rc;
}

/* one operator event — textops._interpret_content_py dispatch twin */
static int
dispatch_op(interp_t *st, const unsigned char *op, Py_ssize_t oplen,
            PyObject *ops)
{
    Py_ssize_t nops = PyList_GET_SIZE(ops);
    double v[6];
    int r;

    if (oplen == 2) {
        unsigned key = ((unsigned)op[0] << 8) | op[1];
        switch (key) {
        case ('B' << 8) | 'T':
            st->in_text = 1;
            {
                PyObject *np = PyList_New(0);
                if (np == NULL)
                    return -1;
                Py_SETREF(st->text_parts, np);
            }
            memcpy(st->tm, MAT_ID_C, sizeof(MAT_ID_C));
            memcpy(st->tlm, MAT_ID_C, sizeof(MAT_ID_C));
            st->span_xy_valid = 0;
            st->span_h_valid = 0;
            st->span_adv = 0.0;
            st->span_w_known = 1;
            st->trm_valid = 0;
            return 0;
        case ('E' << 8) | 'T':
            if (st->in_text) {
                if (emit_text_span(st) < 0)
                    return -1;
            }
            st->in_text = 0;
            return 0;
        case ('T' << 8) | 'f':
            if (nops > 0) {
                PyObject *first = PyList_GET_ITEM(ops, 0);
                int isn = PyObject_IsInstance(first, S.NameType);
                if (isn < 0)
                    return -1;
                if (isn) {
                    PyObject *f = PyObject_CallFunctionObjArgs(
                        st->get_font, first, NULL);
                    PyObject *si;
                    if (f == NULL)
                        return -1;
                    si = PyObject_GetAttr(f, S.str_show_info);
                    if (si == NULL) {
                        Py_DECREF(f);
                        return -1;
                    }
                    if (bind_fast_spec(st, f) < 0) {
                        Py_DECREF(f);
                        Py_DECREF(si);
                        return -1;
                    }
                    Py_XSETREF(st->font, f);
                    Py_XSETREF(st->show_info, si);
                }
            }
            r = last_nums_c(ops, 1, v);
            if (r < 0)
                return -1;
            if (r)
                st->size = v[0];
            return 0;
        case ('T' << 8) | 'd':
        case ('T' << 8) | 'D':
            r = last_nums_c(ops, 2, v);
            if (r < 0)
                return -1;
            if (r) {
                double t[6] = {1.0, 0.0, 0.0, 1.0, 0.0, 0.0}, out[6];
                if (op[1] == 'D')
                    st->leading = -v[1];
                t[4] = v[0];
                t[5] = v[1];
                mat_mul_c(t, st->tlm, out);
                memcpy(st->tlm, out, sizeof(out));
                memcpy(st->tm, out, sizeof(out));
                st->trm_valid = 0;
            }
            return 0;
        case ('T' << 8) | 'm':
            r = last_nums_c(ops, 6, v);
            if (r < 0)
                return -1;
            if (r) {
                memcpy(st->tm, v, sizeof(v));
                memcpy(st->tlm, v, sizeof(v));
                st->trm_valid = 0;
            }
            return 0;
        case ('T' << 8) | '*':
            next_line_c(st);
            return 0;
        case ('T' << 8) | 'L':
            r = last_nums_c(ops, 1, v);
            if (r < 0)
                return -1;
            if (r)
                st->leading = v[0];
            return 0;
        case ('T' << 8) | 'c':
            r = last_nums_c(ops, 1, v);
            if (r < 0)
                return -1;
            if (r)
                st->tc = v[0];
            return 0;
        case ('T' << 8) | 'w':
            r = last_nums_c(ops, 1, v);
            if (r < 0)
                return -1;
            if (r)
                st->tw = v[0];
            return 0;
        case ('T' << 8) | 'z':
            r = last_nums_c(ops, 1, v);
            if (r < 0)
                return -1;
            if (r)
                st->th = v[0] / 100.0;
            return 0;
        case ('c' << 8) | 'm':
            r = last_nums_c(ops, 6, v);
            if (r < 0)
                return -1;
            if (r) {
                double out[6];
                mat_mul_c(v, st->ctm, out);
                memcpy(st->ctm, out, sizeof(out));
                st->trm_valid = 0;
            }
            return 0;
        case ('T' << 8) | 'j':
            if (nops > 0)
                return do_show_c(st, PyList_GET_ITEM(ops, nops - 1));
            return 0;
        case ('T' << 8) | 'J':
            if (nops > 0) {
                PyObject *arr = PyList_GET_ITEM(ops, nops - 1);
                if (PyList_Check(arr)) {
                    Py_ssize_t i, alen = PyList_GET_SIZE(arr);
                    for (i = 0; i < alen; i++) {
                        PyObject *item = PyList_GET_ITEM(arr, i);
                        if (st->tj_kerning && (PyLong_CheckExact(item) ||
                                               PyFloat_CheckExact(item))) {
                            double it;
                            if (PyFloat_CheckExact(item))
                                it = PyFloat_AS_DOUBLE(item);
                            else {
                                it = PyLong_AsDouble(item);
                                if (it == -1.0 && PyErr_Occurred())
                                    return -1;
                            }
                            ensure_trm(st);
                            /* ((−t·Tfs)/1000)·Th·trm0 — Python order */
                            st->span_adv += ((-it * st->size) / 1000.0) *
                                            st->th * st->trm0;
                        } else if (do_show_c(st, item) < 0)
                            return -1;
                    }
                }
            }
            return 0;
        case ('D' << 8) | 'o':
            if (nops > 0) {
                PyObject *last = PyList_GET_ITEM(ops, nops - 1);
                int isn = PyObject_IsInstance(last, S.NameType);
                if (isn < 0)
                    return -1;
                if (isn) {
                    PyObject *ctmt = Py_BuildValue(
                        "(dddddd)", st->ctm[0], st->ctm[1], st->ctm[2],
                        st->ctm[3], st->ctm[4], st->ctm[5]);
                    PyObject *res;
                    if (ctmt == NULL)
                        return -1;
                    res = PyObject_CallFunctionObjArgs(st->do_handler, last,
                                                       ctmt, NULL);
                    Py_DECREF(ctmt);
                    if (res == NULL)
                        return -1;
                    if (res != Py_None) {
                        PyObject *rc = PyObject_CallMethod(
                            st->spans, "extend", "O", res);
                        if (rc == NULL) {
                            Py_DECREF(res);
                            return -1;
                        }
                        Py_DECREF(rc);
                    }
                    Py_DECREF(res);
                }
            }
            return 0;
        case ('B' << 8) | 'I':
            /* BI..EI already skipped at the scan site → media span */
            return emit_media_span(st, S.u_inline);
        default:
            return 0; /* unknown operator: skipped with operands */
        }
    }
    if (oplen == 1) {
        switch (op[0]) {
        case 'q':
            if (st->cs_len == st->cs_cap) {
                Py_ssize_t ncap = st->cs_cap ? st->cs_cap * 2 : 8;
                double *ns = (double *)PyMem_Realloc(
                    st->cstack, ncap * 6 * sizeof(double));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    return -1;
                }
                st->cstack = ns;
                st->cs_cap = ncap;
            }
            memcpy(st->cstack + st->cs_len * 6, st->ctm, sizeof(st->ctm));
            st->cs_len++;
            return 0;
        case 'Q':
            if (st->cs_len > 0) {
                st->cs_len--;
                memcpy(st->ctm, st->cstack + st->cs_len * 6,
                       sizeof(st->ctm));
                st->trm_valid = 0;
            }
            return 0;
        case '\'':
            if (nops > 0) {
                next_line_c(st);
                return do_show_c(st, PyList_GET_ITEM(ops, nops - 1));
            }
            return 0;
        case '"':
            if (nops > 0) {
                /* aw ac string " — SETS word + char spacing (§9.4.3);
                 * the two numbers sit at [-3] and [-2] */
                if (nops >= 3) {
                    PyObject *aw = PyList_GET_ITEM(ops, nops - 3);
                    PyObject *ac = PyList_GET_ITEM(ops, nops - 2);
                    double dv[2];
                    int ok = 1, i;
                    PyObject *pair[2];
                    pair[0] = aw;
                    pair[1] = ac;
                    for (i = 0; i < 2 && ok; i++) {
                        if (PyFloat_CheckExact(pair[i]))
                            dv[i] = PyFloat_AS_DOUBLE(pair[i]);
                        else if (PyLong_CheckExact(pair[i])) {
                            dv[i] = PyLong_AsDouble(pair[i]);
                            if (dv[i] == -1.0 && PyErr_Occurred())
                                return -1;
                        } else
                            ok = 0;
                    }
                    if (ok) {
                        st->tw = dv[0];
                        st->tc = dv[1];
                    }
                }
                next_line_c(st);
                return do_show_c(st, PyList_GET_ITEM(ops, nops - 1));
            }
            return 0;
        default:
            return 0;
        }
    }
    return 0; /* any other keyword: skipped */
}

static PyObject *
ctok_interpret_content(PyObject *self, PyObject *args)
{
    PyObject *data, *get_font, *do_handler, *span_cls, *default_font, *ctm0;
    int tj_kerning;
    const unsigned char *d;
    Py_ssize_t n, pos = 0, i;
    PyObject *operands = NULL;
    PyObject **astack = NULL;
    Py_ssize_t adep = 0, acap = 0;
    interp_t st;

    (void)self;
    memset(&st, 0, sizeof(st));
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "SOOOOOi", &data, &get_font, &do_handler,
                          &span_cls, &default_font, &ctm0, &tj_kerning))
        return NULL;
    if (!PyTuple_Check(ctm0) || PyTuple_GET_SIZE(ctm0) != 6) {
        PyErr_SetString(PyExc_TypeError, "ctm must be a 6-tuple");
        return NULL;
    }
    for (i = 0; i < 6; i++) {
        st.ctm[i] = PyFloat_AsDouble(PyTuple_GET_ITEM(ctm0, i));
        if (st.ctm[i] == -1.0 && PyErr_Occurred())
            return NULL;
    }
    memcpy(st.tm, MAT_ID_C, sizeof(MAT_ID_C));
    memcpy(st.tlm, MAT_ID_C, sizeof(MAT_ID_C));
    st.th = 1.0;
    st.span_w_known = 1;
    st.tj_kerning = tj_kerning;
    st.get_font = get_font;
    st.do_handler = do_handler;
    st.span_cls = span_cls;
    st.spans = PyList_New(0);
    st.text_parts = PyList_New(0);
    st.font = default_font;
    Py_INCREF(default_font);
    st.show_info = PyObject_GetAttr(default_font, S.str_show_info);
    operands = PyList_New(0);
    if (st.spans == NULL || st.text_parts == NULL || st.show_info == NULL ||
        operands == NULL)
        goto fail;
    if (bind_fast_spec(&st, default_font) < 0)
        goto fail;

    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);

#define CLEAR_OPERANDS2()                                                 \
    do {                                                                  \
        if (PyList_GET_SIZE(operands)) {                                  \
            PyObject *no = PyList_New(0);                                 \
            if (no == NULL)                                               \
                goto fail;                                                \
            Py_DECREF(operands);                                          \
            operands = no;                                                \
        }                                                                 \
    } while (0)

    while (pos < n) {
        unsigned char b;
        skip_ws_comments(d, n, &pos);
        if (pos >= n)
            break;
        b = d[pos];
        if ((b >= '0' && b <= '9') || b == '+' || b == '-' || b == '.') {
            Py_ssize_t s = pos, p = pos;
            Py_ssize_t intd = 0, fracd = 0;
            int bad = 0;
            if (d[p] == '+' || d[p] == '-')
                p++;
            while (p < n && d[p] >= '0' && d[p] <= '9') {
                p++;
                intd++;
            }
            if (p < n && d[p] == '.') {
                p++;
                while (p < n && d[p] >= '0' && d[p] <= '9') {
                    p++;
                    fracd++;
                }
            }
            if (intd == 0 && fracd == 0)
                bad = 1;
            else if (p < n && is_regular_c(d[p]))
                bad = 1;
            if (bad) {
                pos = s + 1;
                CLEAR_OPERANDS2();
                continue;
            }
            {
                PyObject *v2;
                int isfloat = 0;
                Py_ssize_t q;
                for (q = s; q < p; q++)
                    if (d[q] == '.') {
                        isfloat = 1;
                        break;
                    }
                v2 = number_value_c(d, s, p, isfloat);
                if (v2 == NULL)
                    goto fail;
                if (PyList_Append(operands, v2) < 0) {
                    Py_DECREF(v2);
                    goto fail;
                }
                Py_DECREF(v2);
                pos = p;
            }
        } else if (b == '/') {
            PyObject *nm = name_token(d, n, &pos);
            if (nm == NULL)
                goto fail;
            if (PyList_Append(operands, nm) < 0) {
                Py_DECREF(nm);
                goto fail;
            }
            Py_DECREF(nm);
        } else if (b == '[') {
            if (adep == acap) {
                Py_ssize_t ncap = acap ? acap * 2 : 8;
                PyObject **ns = (PyObject **)PyMem_Realloc(
                    astack, ncap * sizeof(PyObject *));
                if (ns == NULL) {
                    PyErr_NoMemory();
                    goto fail;
                }
                astack = ns;
                acap = ncap;
            }
            astack[adep++] = operands;
            operands = PyList_New(0);
            if (operands == NULL) {
                operands = astack[--adep];
                goto fail;
            }
            pos++;
        } else if (b == ']') {
            if (adep > 0) {
                PyObject *finished = operands;
                operands = astack[--adep];
                if (PyList_Append(operands, finished) < 0) {
                    Py_DECREF(finished);
                    goto fail;
                }
                Py_DECREF(finished);
            } else
                CLEAR_OPERANDS2();
            pos++;
        } else if (b == '(' || b == '<') {
            PyObject *v2 = (b == '(')
                               ? literal_string_token(d, n, &pos)
                               : ((pos + 1 < n && d[pos + 1] == '<')
                                      ? parse_value(d, n, &pos, Py_None, 0)
                                      : hex_string_token(d, n, &pos));
            if (v2 == NULL)
                goto fail;
            if (PyList_Append(operands, v2) < 0) {
                Py_DECREF(v2);
                goto fail;
            }
            Py_DECREF(v2);
        } else if (is_regular_c(b)) {
            Py_ssize_t s = pos, oplen;
            while (pos < n && is_regular_c(d[pos]))
                pos++;
            oplen = pos - s;
            if (oplen == 2 && d[s] == 'B' && d[s + 1] == 'I') {
                pos = find_inline_ei(d, n, pos);
            }
            if (dispatch_op(&st, d + s, oplen, operands) < 0)
                goto fail;
            CLEAR_OPERANDS2();
        } else {
            pos++;
            CLEAR_OPERANDS2();
        }
    }
#undef CLEAR_OPERANDS2
    Py_DECREF(operands);
    while (adep > 0)
        Py_DECREF(astack[--adep]);
    if (astack)
        PyMem_Free(astack);
    PyMem_Free(st.cstack);
    Py_DECREF(st.text_parts);
    Py_XDECREF(st.font);
    Py_XDECREF(st.show_info);
    Py_XDECREF(st.fs_ref);
    return st.spans;

fail:
    Py_XDECREF(operands);
    while (adep > 0)
        Py_DECREF(astack[--adep]);
    if (astack)
        PyMem_Free(astack);
    PyMem_Free(st.cstack);
    Py_XDECREF(st.spans);
    Py_XDECREF(st.text_parts);
    Py_XDECREF(st.font);
    Py_XDECREF(st.show_info);
    Py_XDECREF(st.fs_ref);
    return NULL;
}

static PyObject *
ctok_parse_object(PyObject *self, PyObject *args)
{
    PyObject *data, *resolver;
    Py_ssize_t pos;
    int allow_recon;
    const unsigned char *d;
    Py_ssize_t n;
    PyObject *v;

    (void)self;
    if (!S.configured) {
        PyErr_SetString(PyExc_RuntimeError, "_ctok not configured");
        return NULL;
    }
    if (!PyArg_ParseTuple(args, "SnOp", &data, &pos, &resolver, &allow_recon))
        return NULL;
    d = (const unsigned char *)PyBytes_AS_STRING(data);
    n = PyBytes_GET_SIZE(data);
    if (pos < 0 || pos > n) {
        PyErr_SetString(S.eparse, "unexpected EOF at value position");
        return NULL;
    }
    v = parse_value(d, n, &pos, resolver, allow_recon);
    if (v == NULL)
        return NULL;
    return Py_BuildValue("(Nn)", v, pos);
}

static PyObject *
ctok_configure(PyObject *self, PyObject *args)
{
    PyObject *cdict, *cstring, *name, *ref, *cstream, *cos_null;
    PyObject *name_cache, *name_from_run, *eparse, *soft;
    long max_scan, max_deref;
    (void)self;
    if (!PyArg_ParseTuple(args, "OOOOOOOOOllO", &cdict, &cstring, &name, &ref,
                          &cstream, &cos_null, &name_cache, &name_from_run,
                          &eparse, &max_scan, &max_deref, &soft))
        return NULL;
    Py_XDECREF(S.CDict);
    Py_XDECREF(S.CString);
    Py_XDECREF(S.NameType);
    Py_XDECREF(S.Ref);
    Py_XDECREF(S.CStream);
    Py_XDECREF(S.cos_null);
    Py_XDECREF(S.name_cache);
    Py_XDECREF(S.name_from_run);
    Py_XDECREF(S.eparse);
    Py_XDECREF(S.soft);
    Py_XDECREF(S.length_name);
    Py_INCREF(cdict);
    Py_INCREF(cstring);
    Py_INCREF(name);
    Py_INCREF(ref);
    Py_INCREF(cstream);
    Py_INCREF(cos_null);
    Py_INCREF(name_cache);
    Py_INCREF(name_from_run);
    Py_INCREF(eparse);
    Py_INCREF(soft);
    S.CDict = cdict;
    S.CString = cstring;
    S.NameType = name;
    S.Ref = ref;
    S.CStream = cstream;
    S.cos_null = cos_null;
    S.name_cache = name_cache;
    S.name_from_run = name_from_run;
    S.eparse = eparse;
    S.soft = soft;
    S.max_scan = max_scan;
    S.max_deref = max_deref;
    S.length_name = PyObject_CallFunction(name, "s", "Length");
    if (S.length_name == NULL)
        return NULL;
    S.configured = 1;
    Py_RETURN_NONE;
}

/* ---- generation-side content emitter (codec._content_for twin) -----
 * The structural fast path only (no cjk / embedded CMap / forms /
 * Type3): per span, WinAnsi-encode + literal-escape (or UTF-16BE hex
 * for non-encodable text → the CID font), pick the show-operator form
 * by ordinal, emit the whole page's blocks into one buffer.  Returns
 * None when a code point can't be handled bit-identically (lone
 * surrogates) so the Python twin takes over — byte parity is pinned
 * by tests/test_ctok_parity.py fuzz. */

/* encode str -> winansi bytes into out (caller-sized len(text));
 * returns 1 ok, 0 not-encodable, -1 lone surrogate (fall back) */
static int
winansi_enc_c(PyObject *txt, const unsigned char *wtab, Py_ssize_t wlen,
              unsigned char *out)
{
    Py_ssize_t n = PyUnicode_GET_LENGTH(txt), i;
    int kind = PyUnicode_KIND(txt);
    const void *data = PyUnicode_DATA(txt);
    for (i = 0; i < n; i++) {
        Py_UCS4 o = PyUnicode_READ(kind, data, i);
        if (o < 0x80 || (o >= 0xA0 && o <= 0xFF))
            out[i] = (unsigned char)o;
        else if (o >= 0xD800 && o <= 0xDFFF)
            return -1;
        else if (o < (Py_UCS4)wlen && wtab[o])
            out[i] = wtab[o];
        else
            return 0;
    }
    return 1;
}

/* emit "(...)" with \( \) \\ \n \r escapes (produce_literal_string) */
static int
emit_literal_c(pbuf_t *b, const unsigned char *d, Py_ssize_t n)
{
    Py_ssize_t i;
    if (pbuf_reserve(b, 2 * n + 2) < 0)
        return -1;
    b->buf[b->len++] = '(';
    for (i = 0; i < n; i++) {
        unsigned char c = d[i];
        if (c == 0x28 || c == 0x29 || c == 0x5C) {
            b->buf[b->len++] = '\\';
            b->buf[b->len++] = c;
        } else if (c == 0x0A) {
            b->buf[b->len++] = '\\';
            b->buf[b->len++] = 'n';
        } else if (c == 0x0D) {
            b->buf[b->len++] = '\\';
            b->buf[b->len++] = 'r';
        } else
            b->buf[b->len++] = c;
    }
    b->buf[b->len++] = ')';
    return 0;
}

/* emit "<utf16behex>" for the CID font; -1 on surrogate (fallback) */
static int
emit_cidhex_c(pbuf_t *b, PyObject *txt)
{
    static const char hx[] = "0123456789abcdef";
    Py_ssize_t n = PyUnicode_GET_LENGTH(txt), i;
    int kind = PyUnicode_KIND(txt);
    const void *data = PyUnicode_DATA(txt);
    if (pbuf_reserve(b, 8 * n + 2) < 0)
        return -2;
    b->buf[b->len++] = '<';
    for (i = 0; i < n; i++) {
        Py_UCS4 o = PyUnicode_READ(kind, data, i);
        unsigned int u[2];
        int k, cnt;
        if (o >= 0xD800 && o <= 0xDFFF)
            return -1;
        if (o >= 0x10000) {
            o -= 0x10000;
            u[0] = 0xD800 + (o >> 10);
            u[1] = 0xDC00 + (o & 0x3FF);
            cnt = 2;
        } else {
            u[0] = o;
            cnt = 1;
        }
        for (k = 0; k < cnt; k++) {
            b->buf[b->len++] = hx[(u[k] >> 12) & 15];
            b->buf[b->len++] = hx[(u[k] >> 8) & 15];
            b->buf[b->len++] = hx[(u[k] >> 4) & 15];
            b->buf[b->len++] = hx[u[k] & 15];
        }
    }
    b->buf[b->len++] = '>';
    return 0;
}

static int
pbuf_int_c(pbuf_t *b, long v)
{
    char tmp[24];
    int n = snprintf(tmp, sizeof(tmp), "%ld", v);
    return pbuf_put(b, tmp, n);
}

static PyObject *
ctok_emit_content(PyObject *self, PyObject *args)
{
    PyObject *spans, *image_names, *wtab_obj;
    const unsigned char *wtab;
    Py_ssize_t wlen, nspans, idx;
    pbuf_t b = {NULL, 0, 0};
    unsigned char stackbuf[256];
    unsigned char *enc = stackbuf;
    Py_ssize_t enc_cap = (Py_ssize_t)sizeof(stackbuf);
    int used_cid = 0;
    long y = 720;
    PyObject *out, *res;
    (void)self;
    if (!PyArg_ParseTuple(args, "O!O!S", &PyList_Type, &spans,
                          &PyDict_Type, &image_names, &wtab_obj))
        return NULL;
    wtab = (const unsigned char *)PyBytes_AS_STRING(wtab_obj);
    wlen = PyBytes_GET_SIZE(wtab_obj);
    nspans = PyList_GET_SIZE(spans);
    for (idx = 0; idx < nspans; idx++) {
        PyObject *sp = PyList_GET_ITEM(spans, idx);
        PyObject *kind, *text, *mref;
        if (!PyTuple_Check(sp) || PyTuple_GET_SIZE(sp) < 3)
            goto fallback;
        kind = PyTuple_GET_ITEM(sp, 0);
        text = PyTuple_GET_ITEM(sp, 1);
        mref = PyTuple_GET_ITEM(sp, 2);
        if (!PyUnicode_Check(kind))
            goto fallback;
        if (idx && pbuf_put(&b, "\n", 1) < 0)
            goto err;
        if (PyUnicode_CompareWithASCIIString(kind, "media") == 0) {
            PyObject *rname = PyDict_GetItem(image_names, mref);
            Py_ssize_t rn;
            const char *rs;
            if (rname == NULL || !PyUnicode_Check(rname))
                goto fallback;
            rs = PyUnicode_AsUTF8AndSize(rname, &rn);
            if (rs == NULL)
                goto err;
            if (pbuf_put(&b, "q 100 0 0 50 10 ", 16) < 0 ||
                pbuf_int_c(&b, y) < 0 || pbuf_put(&b, " cm /", 5) < 0 ||
                pbuf_put(&b, rs, rn) < 0 || pbuf_put(&b, " Do Q", 5) < 0)
                goto err;
            y -= 60;
            continue;
        }
        {
            /* text span: None → "" */
            PyObject *t = (text == Py_None) ? NULL : text;
            Py_ssize_t tn = t ? PyUnicode_GET_LENGTH(t) : 0;
            int encodable, form = (int)(idx % 4);
            const char *font;
            if (t != NULL && !PyUnicode_Check(t))
                goto fallback;
            if (tn > enc_cap) {
                unsigned char *ne = (unsigned char *)PyMem_Malloc(tn);
                if (ne == NULL) {
                    PyErr_NoMemory();
                    goto err;
                }
                if (enc != stackbuf)
                    PyMem_Free(enc);
                enc = ne;
                enc_cap = tn;
            }
            encodable = tn ? winansi_enc_c(t, wtab, wlen, enc) : 1;
            if (encodable < 0)
                goto fallback; /* lone surrogate: Python raises */
            if (!encodable)
                used_cid = 1;
            font = encodable ? "/F1" : "/F2";
            if (form == 0) {
                if (pbuf_put(&b, "q 1 0 0 1 0 0 cm BT ", 20) < 0 ||
                    pbuf_put(&b, font, 3) < 0 ||
                    pbuf_put(&b, " 12 Tf 0.25 Tc 0.5 Tw 100 Tz 10 ", 32) < 0 ||
                    pbuf_int_c(&b, y) < 0 || pbuf_put(&b, " Td ", 4) < 0)
                    goto err;
                if (encodable ? emit_literal_c(&b, enc, tn)
                              : emit_cidhex_c(&b, t) != 0)
                    goto err_or_fb;
                if (pbuf_put(&b, " Tj ET Q", 8) < 0)
                    goto err;
            } else if (form == 1) {
                if (pbuf_put(&b, "BT ", 3) < 0 ||
                    pbuf_put(&b, font, 3) < 0 ||
                    pbuf_put(&b, " 12 Tf 0 Tc 0 Tw 50 Tz 10 ", 26) < 0 ||
                    pbuf_int_c(&b, y) < 0 || pbuf_put(&b, " Td [", 5) < 0)
                    goto err;
                if (encodable && tn > 1) {
                    Py_ssize_t mid = tn / 2;
                    if (emit_literal_c(&b, enc, mid) < 0 ||
                        pbuf_put(&b, " -250 ", 6) < 0 ||
                        emit_literal_c(&b, enc + mid, tn - mid) < 0)
                        goto err;
                } else if (encodable) {
                    if (emit_literal_c(&b, enc, tn) < 0)
                        goto err;
                } else {
                    if (emit_cidhex_c(&b, t) != 0)
                        goto err_or_fb;
                }
                if (pbuf_put(&b, "] TJ ET", 7) < 0)
                    goto err;
            } else if (form == 2) {
                if (pbuf_put(&b, "BT ", 3) < 0 ||
                    pbuf_put(&b, font, 3) < 0 ||
                    pbuf_put(&b, " 12 Tf 0.125 Tc 0 Tw 100 Tz 14 TL 10 ",
                             37) < 0 ||
                    pbuf_int_c(&b, y) < 0 || pbuf_put(&b, " Td ", 4) < 0)
                    goto err;
                if (encodable ? emit_literal_c(&b, enc, tn)
                              : emit_cidhex_c(&b, t) != 0)
                    goto err_or_fb;
                if (pbuf_put(&b, " ' ET", 5) < 0)
                    goto err;
            } else {
                if (pbuf_put(&b, "BT ", 3) < 0 ||
                    pbuf_put(&b, font, 3) < 0 ||
                    pbuf_put(&b, " 12 Tf 50 Tz 14 TL 1 0 0 1 10 ", 30) < 0 ||
                    pbuf_int_c(&b, y) < 0 || pbuf_put(&b, " Tm 2 1 ", 8) < 0)
                    goto err;
                if (encodable ? emit_literal_c(&b, enc, tn)
                              : emit_cidhex_c(&b, t) != 0)
                    goto err_or_fb;
                if (pbuf_put(&b, " \" ET", 5) < 0)
                    goto err;
            }
            y -= 16;
        }
    }
    out = PyBytes_FromStringAndSize((const char *)b.buf, b.len);
    PyMem_Free(b.buf);
    if (enc != stackbuf)
        PyMem_Free(enc);
    if (out == NULL)
        return NULL;
    res = Py_BuildValue("(NO)", out, used_cid ? Py_True : Py_False);
    return res;
err_or_fb:
    if (PyErr_Occurred())
        goto err;
    goto fallback; /* emit_cidhex_c saw a surrogate mid-emission */
fallback:
    PyMem_Free(b.buf);
    if (enc != stackbuf)
        PyMem_Free(enc);
    Py_RETURN_NONE;
err:
    PyMem_Free(b.buf);
    if (enc != stackbuf)
        PyMem_Free(enc);
    return NULL;
}

/* ---- classic xref-table emitter (generation side) ------------------
 * pairs of (num, offset, gen) → "N 1"+eol+"OOOOOOOOOO GGGGG n"+row_eol
 * per entry — the f-string loop in _assemble_classic/_incremental. */
static PyObject *
ctok_emit_xref_table(PyObject *self, PyObject *args)
{
    PyObject *pairs;
    const char *eol, *row_eol;
    Py_ssize_t eol_n, row_n, n, i;
    pbuf_t b = {NULL, 0, 0};
    PyObject *out;
    (void)self;
    if (!PyArg_ParseTuple(args, "O!y#y#", &PyList_Type, &pairs, &eol,
                          &eol_n, &row_eol, &row_n))
        return NULL;
    n = PyList_GET_SIZE(pairs);
    for (i = 0; i < n; i++) {
        PyObject *p = PyList_GET_ITEM(pairs, i);
        long num, off, gen;
        char tmp[48];
        int tn;
        if (!PyTuple_Check(p) || PyTuple_GET_SIZE(p) != 3) {
            PyErr_SetString(PyExc_TypeError,
                            "emit_xref_table wants (num, off, gen) tuples");
            goto err;
        }
        num = PyLong_AsLong(PyTuple_GET_ITEM(p, 0));
        off = PyLong_AsLong(PyTuple_GET_ITEM(p, 1));
        gen = PyLong_AsLong(PyTuple_GET_ITEM(p, 2));
        if (PyErr_Occurred())
            goto err;
        tn = snprintf(tmp, sizeof(tmp), "%ld 1", num);
        if (pbuf_put(&b, tmp, tn) < 0 || pbuf_put(&b, eol, eol_n) < 0)
            goto err;
        tn = snprintf(tmp, sizeof(tmp), "%010ld %05ld n", off, gen);
        if (pbuf_put(&b, tmp, tn) < 0 || pbuf_put(&b, row_eol, row_n) < 0)
            goto err;
    }
    out = PyBytes_FromStringAndSize((const char *)b.buf, b.len);
    PyMem_Free(b.buf);
    return out;
err:
    PyMem_Free(b.buf);
    return NULL;
}

/* ---- xref-STREAM row packer (generation side) ----------------------
 * entries: sorted list of (num, type, a, b) → (rows_bytes, index_list)
 * rows are the /W [1 4 2] binary layout; index is the run-length
 * [start, count, ...] subsection list (_xref_stream_bytes twin). */
static PyObject *
ctok_emit_xref_rows(PyObject *self, PyObject *args)
{
    PyObject *entries, *rows = NULL, *index = NULL;
    Py_ssize_t n, i;
    unsigned char *p;
    long run_start = -1, prev = -1;
    (void)self;
    if (!PyArg_ParseTuple(args, "O!", &PyList_Type, &entries))
        return NULL;
    n = PyList_GET_SIZE(entries);
    rows = PyBytes_FromStringAndSize(NULL, n * 7);
    index = PyList_New(0);
    if (rows == NULL || index == NULL)
        goto err;
    p = (unsigned char *)PyBytes_AS_STRING(rows);
    for (i = 0; i < n; i++) {
        PyObject *e = PyList_GET_ITEM(entries, i);
        long num, t, a, b2;
        if (!PyTuple_Check(e) || PyTuple_GET_SIZE(e) != 4) {
            PyErr_SetString(PyExc_TypeError,
                            "emit_xref_rows wants (num, type, a, b) tuples");
            goto err;
        }
        num = PyLong_AsLong(PyTuple_GET_ITEM(e, 0));
        t = PyLong_AsLong(PyTuple_GET_ITEM(e, 1));
        a = PyLong_AsLong(PyTuple_GET_ITEM(e, 2));
        b2 = PyLong_AsLong(PyTuple_GET_ITEM(e, 3));
        if (PyErr_Occurred())
            goto err;
        *p++ = (unsigned char)t;
        *p++ = (unsigned char)((a >> 24) & 0xFF);
        *p++ = (unsigned char)((a >> 16) & 0xFF);
        *p++ = (unsigned char)((a >> 8) & 0xFF);
        *p++ = (unsigned char)(a & 0xFF);
        *p++ = (unsigned char)((b2 >> 8) & 0xFF);
        *p++ = (unsigned char)(b2 & 0xFF);
        if (run_start < 0) {
            run_start = prev = num;
        } else if (num == prev + 1) {
            prev = num;
        } else {
            PyObject *v = PyLong_FromLong(run_start);
            PyObject *c = PyLong_FromLong(prev - run_start + 1);
            if (v == NULL || c == NULL ||
                PyList_Append(index, v) < 0 || PyList_Append(index, c) < 0) {
                Py_XDECREF(v);
                Py_XDECREF(c);
                goto err;
            }
            Py_DECREF(v);
            Py_DECREF(c);
            run_start = prev = num;
        }
    }
    if (run_start >= 0) {
        PyObject *v = PyLong_FromLong(run_start);
        PyObject *c = PyLong_FromLong(prev - run_start + 1);
        if (v == NULL || c == NULL ||
            PyList_Append(index, v) < 0 || PyList_Append(index, c) < 0) {
            Py_XDECREF(v);
            Py_XDECREF(c);
            goto err;
        }
        Py_DECREF(v);
        Py_DECREF(c);
    }
    return Py_BuildValue("(NN)", rows, index);
err:
    Py_XDECREF(rows);
    Py_XDECREF(index);
    return NULL;
}

static PyMethodDef ctok_methods[] = {
    {"emit_xref_rows", ctok_emit_xref_rows, METH_VARARGS,
     "emit_xref_rows([(num, type, a, b)...]) -> (rows_bytes, index_list)"},
    {"emit_content", ctok_emit_content, METH_VARARGS,
     "emit_content(spans, image_names, winansi_tab) -> (bytes, used_cid) "
     "or None (fallback)"},
    {"emit_xref_table", ctok_emit_xref_table, METH_VARARGS,
     "emit_xref_table([(num, off, gen)...], eol, row_eol) -> bytes"},
    {"configure", ctok_configure, METH_VARARGS,
     "configure(CDict, CString, Name, Ref, CStream, COS_NULL, name_cache, "
     "name_from_run, EParseError, MAX_SCAN_RANGE, MAX_DEREF_DEPTH, soft)"},
    {"parse_object", ctok_parse_object, METH_VARARGS,
     "parse_object(data, pos, resolver, allow_reconstruction) "
     "-> (value, new_pos)"},
    {"lex_content", ctok_lex_content, METH_VARARGS,
     "lex_content(data) -> [(op_bytes, operands_tuple), ...]"},
    {"cmap_codes_w", ctok_cmap_codes_w, METH_VARARGS,
     "cmap_codes_w(raw, ranges) -> [(code, byte_width), ...]"},
    {"produce", ctok_produce, METH_VARARGS,
     "produce(value, name_fn[, name_cache]) -> serialized bytes"},
    {"serialize_objs", ctok_serialize_objs, METH_VARARGS,
     "serialize_objs(items, eol, base, name_fn[, cache]) ->"
     " (bytes, offsets)"},
    {"lzw_decode", ctok_lzw_decode, METH_VARARGS,
     "lzw_decode(data) -> decoded bytes (PDF early-change LZW)"},
    {"lzw_encode", ctok_lzw_encode, METH_VARARGS,
     "lzw_encode(data) -> encoded bytes (PDF early-change LZW)"},
    {"parse_xref_table", ctok_parse_xref_table, METH_VARARGS,
     "parse_xref_table(data, pos) -> ([(num, gen, off), ...], endpos) "
     "| None(anomaly -> Python path)"},
    {"parse_indirect", ctok_parse_indirect, METH_VARARGS,
     "parse_indirect(data, offset, expected_num, resolver, "
     "allow_reconstruction) -> value | None(mismatch)"},
    {"walk_pages", ctok_walk_pages, METH_VARARGS,
     "walk_pages(pages_dict, root_num, resolver) "
     "-> [(num, mediabox, cropbox, resources, contents, "
     "rotate), ...]"},
    {"interpret_content", ctok_interpret_content, METH_VARARGS,
     "interpret_content(data, get_font, do_handler, span_cls, "
     "default_font, ctm_6tuple, tj_kerning) -> [Span, ...]"},
    {NULL, NULL, 0, NULL}};

static struct PyModuleDef ctok_module = {
    PyModuleDef_HEAD_INIT, "_ctok",
    "C fast path for the pdfspark COS token scanner", -1, ctok_methods,
    NULL, NULL, NULL, NULL};

PyMODINIT_FUNC
PyInit__ctok(void)
{
    S.str_raw = PyUnicode_InternFromString("raw");
    S.str_show_info = PyUnicode_InternFromString("show_info");
    S.str_fast_spec = PyUnicode_InternFromString("_fast_spec");
    S.u_text = PyUnicode_InternFromString("text");
    S.u_media = PyUnicode_InternFromString("media");
    S.u_inline = PyUnicode_InternFromString("inline");
    S.u_empty = PyUnicode_InternFromString("");
    S.u_Type = PyUnicode_InternFromString("Type");
    S.u_Kids = PyUnicode_InternFromString("Kids");
    S.u_Contents = PyUnicode_InternFromString("Contents");
    S.u_Resources = PyUnicode_InternFromString("Resources");
    S.u_MediaBox = PyUnicode_InternFromString("MediaBox");
    S.u_CropBox = PyUnicode_InternFromString("CropBox");
    S.u_Rotate = PyUnicode_InternFromString("Rotate");
    if (S.str_raw == NULL || S.str_show_info == NULL ||
        S.str_fast_spec == NULL || S.u_text == NULL ||
        S.u_media == NULL || S.u_inline == NULL || S.u_empty == NULL ||
        S.u_Type == NULL || S.u_Kids == NULL ||
        S.u_Contents == NULL || S.u_Resources == NULL ||
        S.u_MediaBox == NULL || S.u_CropBox == NULL || S.u_Rotate == NULL)
        return NULL;
    return PyModule_Create(&ctok_module);
}
