package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.{IIOImage, ImageIO}
import javax.sound.sampled.{AudioFormat, AudioSystem}
import scala.util.control.NonFatal

// The media containers' one reader and one writer each. Every decoder,
// synthesizer and fingerprint kernel of MultimodalOps goes through these
// and keeps only its per-format arithmetic. A reader hands its caller's
// body the decoded value and returns that body's result; anything
// NonFatal, from the container or from the body, is None: one bad
// payload degrades one row, never the partition.

/** Decoded rasters, read a row at a time. */
private[graft] object Pixels {

  /** Calls `row(y, px)` for each row `y` of `img`, top to bottom, with
    * `px` holding that row's packed RGB. One bulk copy per row: the
    * per-pixel accessor pays a ColorModel dispatch per call, while the
    * buffer stays O(width). */
  def rows(img: BufferedImage)(row: (Int, Array[Int]) => Unit): Unit = {
    val w = img.getWidth
    val px = new Array[Int](w)
    var y = 0
    while (y < img.getHeight) {
      img.getRGB(0, y, w, 1, px, 0, w)
      row(y, px)
      y += 1
    }
  }
}

/** Still images: any `javax.imageio` still in (PNG, JPEG), PNG out. */
private[graft] object Still {

  /** `f` over the decoded raster; None when no codec claims the payload
    * (the JDK returns null) or decoding throws (truncated containers). */
  def read[A](bytes: Array[Byte])(f: BufferedImage => Option[A]): Option[A] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes))).flatMap(f)
    catch { case NonFatal(_) => None }

  /** `img` encoded by the JDK PNG writer (lossless). */
  def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}

/** Animated GIFs: a multi-frame container walked frame by frame. */
private[graft] object Gif {

  /** `f` over the lazily decoded frames: the first `frames` of them, or
    * with `frames = 0` every frame the container's directory lists (a
    * full stream parse first). None when no reader claims the payload,
    * it holds no frames, or any frame fails to decode, including one
    * past the end of a clip shorter than `frames`. */
  def read[A](bytes: Array[Byte], frames: Int = 0)(
      f: Iterator[BufferedImage] => Option[A]): Option[A] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false, true)
            val n = if (frames > 0) frames else reader.getNumImages(true)
            if (n <= 0) None else f(Iterator.tabulate(n)(reader.read(_)))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case NonFatal(_) => None }

  /** `frames` encoded in order by the JDK GIF sequence writer (lossless
    * over indexed rasters). */
  def write(frames: Iterator[BufferedImage]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img => writer.writeToSequence(new IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }
}

/** RIFF/WAVE audio, signed 16-bit little-endian PCM only. */
private[graft] object Wav {

  /** A decoded stream: its format, its frame count as the container
    * states it, and its interleaved samples. */
  final case class Pcm(format: AudioFormat, frames: Long, samples: Array[Short])

  /** `f` over the decoded stream, parsed by `javax.sound.sampled`. None
    * for anything but signed 16-bit little-endian PCM (24-bit WAV,
    * big-endian AIFF, …) and for anything that fails to parse. */
  def read[A](bytes: Array[Byte])(f: Pcm => Option[A]): Option[A] =
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
            fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val pcm = in.readAllBytes()
          val samples = new Array[Short](pcm.length / 2)
          ByteBuffer.wrap(pcm).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer.get(samples)
          f(Pcm(fmt, in.getFrameLength, samples))
        }
      } finally in.close()
    } catch { case NonFatal(_) => None }

  /** A canonical 44-byte RIFF/WAVE header plus `samples` (interleaved
    * across `channels`) as PCM16 little-endian: the container format is
    * that header, so writing it directly is the codec. */
  def write(rate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes(ascii)).putInt(36 + dataLen)
      .put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii)).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(rate)
      .putInt(rate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes(ascii)).putInt(dataLen)
    buf.asShortBuffer.put(samples)
    buf.array()
  }
}
